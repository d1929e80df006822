"""Engine-wide physical-plan lint.

Every registered query's executed plan is checked for the two patterns
that silently destroy 100 TB scalability:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` on two large
  inputs — O(n*m) row pairs;
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the
  sanctioned extension points are Arrow-batched: mapInPandas /
  ArrowEvalPython).

Queries whose SEMANTICS are a deliberate exception are listed with the
reason, so adding a new offender fails loudly.
"""

import re

import pytest

from cloud_optimized_data_pipelines_spark.queries import (
    QUERIES,
    _GRADED_WINDOW,
)

# deliberate exceptions: query -> reason
NESTED_LOOP_OK = {
    # single-row broadcast side (scalar subquery result or literal
    # query row) — the nested loop touches n x 1 rows
    "q11_important_parts": "scalar subquery join (1-row broadcast)",
    "q15_top_supplier": "scalar MAX subquery (1-row broadcast)",
    "q22_idle_customers": "two scalar subqueries (1-row broadcasts)",
    "similarity_bruteforce_topk": "literal query vector vs corpus",
    "similarity_quantized_topk": (
        "dequantized query row crossJoin (1-row broadcast) vs corpus"
    ),
    "k2_spill_flag": "config literal cross (1-row)",
    "similarity_ivf_probe": (
        "IVF assignment crossJoin vs k_lists-row broadcast centroid set"
        " + 1-row query vector — n x 16 and n x 1 nested loops"
    ),
    "text_unigram_logprob": "corpus-total scalar crossJoin (1-row broadcast)",
    "text_bigram_backoff": "train-total scalar crossJoin (1-row broadcast)",
    "sample_dsir_weights": (
        "two model-total scalar crossJoins (1-row broadcasts); the"
        " bucket-count model joins themselves are bounded equi-joins"
    ),
    "sample_dsir_select": "same scalar crossJoins via the dsir_weights stage",
    "text_bm25_scores": "N/avgdl corpus-stats scalar crossJoin (1-row broadcast)",
    "sample_ccnet_buckets": (
        "percentile-cutoff scalar crossJoin (1-row broadcast) atop the"
        " unigram-logprob corpus-total scalar"
    ),
    "text_distribution_shift": (
        "totals/vocab scalar crossJoin (1-row broadcast) against the"
        " vocabulary-sized count table"
    ),
    "events_drift_psi": (
        "totals/ncat scalar crossJoin (1-row broadcast) against the"
        " category-set-sized count table (same shape as"
        " text_distribution_shift)"
    ),
    "similarity_semantic_dedup": (
        "SemDeDup cluster assignment crossJoin vs k_lists-row broadcast"
        " centroid set — n x 16 nested loop (same shape as ivf_probe)"
    ),
    "similarity_embedding_decontaminate": (
        "corpus vs broadcast eval-set cosine join — n x |eval| nested"
        " loop by design (eval sets are metadata-sized)"
    ),
    "similarity_knn_join": (
        "corpus crossJoin vs the broadcast 8-row query batch — n x |Q|"
        " nested loop is the scoring stage by design; top-k is the"
        " balanced two-phase window"
    ),
    "graph_pagerank_dangling": (
        "per-iteration dangling-mass scalar crossJoin (1-row broadcast"
        " BIGINT aggregate folded into every node's base)"
    ),
    "sample_temperature_mix": (
        "integer-total scalar crossJoin (1-row broadcast) against the"
        " stratum-sized weight table"
    ),
    "quality_column_profiles": (
        "column-stats scalar crossJoins (1-row broadcast, shared via"
        " ReusedExchange) feeding the bucket arithmetic and the output"
        " scalars — the oracle's scalar-CTE shape, no driver collect"
    ),
    "sample_doremi_weights": (
        "grand-total and softmax-denominator scalar crossJoins (1-row"
        " broadcasts) against the (domain, word) count table and the"
        " k-domain weight table"
    ),
}


# A second broadcast threshold just above the largest side whose size
# estimate does not grow with the input (1,600 B: the limit(100)
# shortlist of similarity_pq_refine).  Under it, a crossJoin whose
# small side is neither hinted nor sized as constant plans a
# CartesianProduct, which AQE cannot repair.
SMALL_THRESHOLD = "2KB"


@pytest.mark.parametrize(
    "name, threshold",
    [pytest.param(n, None, id=n) for n in sorted(QUERIES)]
    + [
        pytest.param(n, SMALL_THRESHOLD, id=f"{n}-{SMALL_THRESHOLD}")
        for n in sorted(QUERIES)
    ],
)
def test_plan_has_no_scale_hazards(spark, sf_dir, name, threshold):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)

    # under the small threshold NESTED_LOOP_OK does not excuse a
    # CartesianProduct: a 1-row or hinted side stays a nested loop
    if threshold is not None or name not in NESTED_LOOP_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in NESTED_LOOP_OK:
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{name}: nested-loop join"

    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan (use Arrow-batched"
        " mapInPandas / pandas_udf)"
    )

    # every scan must prune columns: no table here is wider than 12
    # columns after projection pushdown, so a wider scan output means
    # pruning broke.  (FileScan's [output] list prints in full —
    # ReadSchema is display-truncated and can't be parsed reliably.)
    for m in re.finditer(r"FileScan parquet[^\[\n]*\[([^\]]*)\]", plan):
        ncols = len(m.group(1).split(",")) if m.group(1) else 0
        assert ncols <= 12, f"{name}: scan reads {ncols} columns"


@pytest.mark.parametrize("name", sorted(_GRADED_WINDOW))
def test_graded_window_outputs_are_scalar(spark, sf_dir, name):
    """Graded-window queries must return ONLY scalar columns: the
    driver's canonicalizer sorts raw pandas columns, and list cells
    raise ``TypeError: unhashable type: 'list'`` (how r9's
    ``stac_item_raster`` went red despite passing locally).  Arrays /
    maps / structs must be serialized to fixed-precision strings (the
    geometry_wkt ``format_string``/``printf`` pattern) before return."""
    df = QUERIES[name](spark, sf_dir)
    nested = [
        (c, t) for c, t in df.dtypes
        if t.startswith(("array", "map", "struct"))
    ]
    assert not nested, (
        f"{name}: nested output columns {nested} — the driver canon"
        " crashes on list cells; serialize to strings"
    )


def test_plans_md_covers_registry():
    """PLANS.md (the regenerated plan-evidence table) must carry
    exactly one row per registered query — the audit artifact went
    stale twice (r5 verdict, ADVICE r5); this pins it to the registry."""
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(path) as f:
        text = f.read()
    rows = set(re.findall(r"^\| (\w+) \|", text, re.M))
    rows.discard("query")  # header row
    missing = sorted(set(QUERIES) - rows)
    extra = sorted(rows - set(QUERIES))
    assert not missing, f"PLANS.md missing rows: {missing}"
    assert not extra, f"PLANS.md stale rows: {extra}"


def _import_ledger():
    import os
    import sys

    repo = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import ledger
    finally:
        sys.path.pop(0)
    return repo, ledger


def test_coverage_ledger_current():
    """COVERAGE.md's last-driver-green ledger (tools/ledger.py) must
    match what the CORRECTNESS history + the current registry derive,
    restricted to the round the committed block says it was generated
    through — the driver writes CORRECTNESS_r{N}.json AFTER the
    builder's final commit, so files newer than the committed ledger
    are tolerated (VERDICT r8 #1: the all-files pin was red at every
    round start by construction).  A registry change without
    regeneration still fails: build_rows reads the live registry."""
    import os

    repo, ledger = _import_ledger()
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        text = f.read()
    assert ledger.BEGIN in text and ledger.END in text, (
        "COVERAGE.md has no ledger block — run: python tools/ledger.py"
    )
    actual = text[text.index(ledger.BEGIN): text.index(ledger.END)
                  + len(ledger.END)]
    through = ledger.committed_through_round(actual)
    available = {ledger._round_of(p) for p in ledger.correctness_files()}
    assert through in available, (
        f"ledger claims round r{through} but no such correctness file"
    )
    expected = ledger.render(
        ledger.build_rows(max_round=through), through
    )
    assert actual == expected, (
        "COVERAGE.md ledger is stale — run: python tools/ledger.py"
    )


def test_coverage_ledger_tolerates_future_round(tmp_path):
    """Simulate the round boundary the r8 verdict flagged: the driver
    drops a CORRECTNESS file NEWER than the committed ledger.  The pin
    must still pass (the new file is outside the committed
    through-round), and a regeneration that includes it must differ
    only by absorbing the new green rows."""
    import json
    import os

    repo, ledger = _import_ledger()
    files = ledger.correctness_files()
    future = tmp_path / "CORRECTNESS_r99.json"
    future.write_text(json.dumps({
        "c1_extract_dates": {
            "rows_match": True, "schema_match": True,
            "hash_match": True, "err": None,
        }
    }))
    through = max(ledger._round_of(p) for p in files)
    # Restricted to the committed through-round, the future file is
    # invisible: rows are identical with and without it.
    base = ledger.build_rows(max_round=through, files=files)
    tolerant = ledger.build_rows(
        max_round=through, files=files + [str(future)]
    )
    assert base == tolerant
    # Unrestricted regeneration absorbs it (proves the file parses and
    # the tolerance comes from max_round, not from ignoring the file).
    absorbed = dict(ledger.build_rows(files=files + [str(future)]))
    assert absorbed["c1_extract_dates"] == "r99"
    # And the committed block itself passes the exact comparison the
    # main pin performs, regardless of files newer than it.
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        text = f.read()
    actual = text[text.index(ledger.BEGIN): text.index(ledger.END)
                  + len(ledger.END)]
    committed_through = ledger.committed_through_round(actual)
    assert actual == ledger.render(
        ledger.build_rows(max_round=committed_through),
        committed_through,
    )


# parameters that pick a mechanism instead of a result: how a pin is
# made is the session's choice (``batching.pin``), and whether a join
# broadcasts is the planner's (``BROADCAST_HINTS``), not the caller's
MECHANISM_SWITCHES = (
    "materialize", "checkpoint", "checkpoint_dir", "checkpoint_every",
    "broadcast_test",
)


def test_operators_have_no_implementation_switch():
    """Each operator has one production implementation: no public
    function in ``operators/`` or ``plans/`` takes a parameter that
    picks between implementations (``impl`` or ``*_impl``) or between
    pinning mechanisms (``MECHANISM_SWITCHES``).  Reference forms
    belong in ``tests/fold_reference.py``."""
    import importlib
    import inspect
    import pkgutil

    from cloud_optimized_data_pipelines_spark import operators, plans

    offenders = []
    for pkg in (operators, plans):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if name.startswith("_") or fn.__module__ != mod.__name__:
                    continue
                offenders += [
                    f"{mod.__name__}.{name}({p})"
                    for p in inspect.signature(fn).parameters
                    if p == "impl" or p.endswith("_impl")
                    or p in MECHANISM_SWITCHES
                ]
    assert not offenders, offenders


def test_corpus_preprocess_runs_one_arrow_pass(spark, sf_dir, monkeypatch):
    """Language ID and the Gopher statistics of the composed corpus
    pipeline come from ONE Arrow evaluation per document, and no
    interpreted array lambda (``ArrayFilter``, ``ArrayAggregate``,
    ``ArraySort`` are CodegenFallback) is left in its plans.  The flag
    table is pinned at construction, so its plan is captured before
    the materialization boundary: ``batching.pin`` makes it with
    ``DataFrame.localCheckpoint`` when no checkpoint dir is set."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frame_cls = type(docs)
    pin = frame_cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return pin(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    from cloud_optimized_data_pipelines_spark.plans.corpus import (
        corpus_preprocess,
    )

    out = corpus_preprocess(docs)
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    plan = "\n".join(plans)
    assert plan.count("ArrowEvalPython") == 1, plan
    lambdas = re.findall(r"\b(filter|aggregate|array_sort|lambdafunction)\(", plan)
    assert not lambdas, lambdas


def test_only_the_spread_helper_reads_partition_counts():
    """``DataFrame.rdd`` (and any partition count) on a plan with an
    exchange runs every upstream query stage just to answer a question
    about partitions.  The package reads a partition count in one
    place, ``batching.spread_small_scan``, which asks it of
    exchange-free plans only, and never converts a frame to an RDD."""
    import inspect
    import pathlib

    import cloud_optimized_data_pipelines_spark as pkg
    from cloud_optimized_data_pipelines_spark.batching import spread_small_scan

    access = re.compile(r"\.rdd\b|getNumPartitions")
    root = pathlib.Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): access.findall(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    found = {k: v for k, v in found.items() if v}
    helper = access.findall(inspect.getsource(spread_small_scan))
    assert helper == ["getNumPartitions"] and found == {"batching.py": helper}, found


def test_only_the_pin_helper_pins():
    """One way to pin an intermediate: ``batching.pin`` makes every pin
    and ``batching.pins`` releases them, so no other code in the
    package checkpoints, persists, caches or unpersists a frame."""
    import inspect
    import pathlib

    import cloud_optimized_data_pipelines_spark as pkg
    from cloud_optimized_data_pipelines_spark.batching import pin, pins

    access = re.compile(
        r"localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)|unpersist\("
    )
    root = pathlib.Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): access.findall(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    found = {k: v for k, v in found.items() if v}
    helper = access.findall(inspect.getsource(pin) + inspect.getsource(pins))
    assert helper == [".checkpoint(", "localCheckpoint(", "unpersist("]
    assert found == {"batching.py": helper}, found


# every broadcast join hint in the package: "<path>::<function>" ->
# (number of hints, the bound on the hinted side).  A hint belongs here
# only where the planner cannot size the small side itself and, without
# the hint, would plan a CartesianProduct or shuffle a corpus-sized
# side; everywhere else the optimizer's estimate decides.
BROADCAST_HINTS = {
    "operators/decontaminate.py::embedding_contamination_flags": (
        1, "the eval set's embeddings: a cosine join with no equi-key",
    ),
    "operators/sampling.py::dsir_importance": (
        3, "each bucket model has <= buckets rows",
    ),
    "operators/similarity.py::ann_topk_multiprobe": (
        1, "the query row x (num_dims + 1) probe buckets",
    ),
    "operators/similarity.py::ann_topk_by_id": (
        1, "the query row (one id); its filter is sized as the corpus",
    ),
    "operators/similarity.py::ivf_probe_fixed": (
        3, "k_lists centroids and the query row, each a crossJoin side",
    ),
    "operators/similarity.py::_semantic_assign": (
        1, "k_lists centroids, a crossJoin side",
    ),
    "operators/similarity.py::knn_join": (
        1, "the query batch, a crossJoin side",
    ),
    "operators/similarity.py::embedding_outliers": (
        1, "one stats row per vector component",
    ),
    "operators/sketches.py::bloom_contains": (
        1, "<= m_bits/63 filter words",
    ),
    "registry/q_similarity.py::quantized_topk_q": (
        1, "the query row (vec_id 0), a crossJoin side",
    ),
    "registry/q_similarity.py::ann_topk_q": (
        1, "the query row (vec_id 0), a crossJoin side",
    ),
}


def test_only_listed_sides_are_broadcast():
    """Each broadcast hint in the package is listed in
    ``BROADCAST_HINTS`` with the bound of its side, so a new hint must
    state one.  ``SparkContext.broadcast`` ships a Python value to the
    workers, not a join hint, and is not counted."""
    import ast
    import pathlib

    import cloud_optimized_data_pipelines_spark as pkg

    def is_hint(func):
        if isinstance(func, ast.Name):
            return func.id == "broadcast"
        return (
            isinstance(func, ast.Attribute)
            and func.attr == "broadcast"
            and not ast.unparse(func.value).endswith(("sparkContext", "sc"))
        )

    found = {}

    def visit(node, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            where = f"{where.split('::')[0]}::{node.name}"
        if isinstance(node, ast.Call) and is_hint(node.func):
            found[where] = found.get(where, 0) + 1
        for child in ast.iter_child_nodes(node):
            visit(child, where)

    root = pathlib.Path(pkg.__file__).parent
    for p in sorted(root.rglob("*.py")):
        visit(ast.parse(p.read_text()), str(p.relative_to(root)))
    assert all(bound for _, bound in BROADCAST_HINTS.values())
    assert found == {k: n for k, (n, _) in BROADCAST_HINTS.items()}, found
