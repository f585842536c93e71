"""Plan-shape assertions (SURVEY.md §5): the physical plan properties
the 100 TB posture depends on — pushdown reaching the parquet scan,
column pruning, join strategy, no nested-loop explosions — asserted
so a regression in plan shape fails CI even while results stay
correct."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> str:
    return " | ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))


def test_q6_pushdown_and_pruning(spark):
    plan = formatted_plan(spark, "q6_forecast_revenue")
    pf = pushed_filters(plan)
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "LessThan(l_shipdate" in pf
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # projection pruned to exactly the referenced columns
    assert cols == {"l_quantity", "l_extendedprice", "l_discount",
                    "l_shipdate"}


def test_date_range_scan_pushes_ts_bounds(spark):
    plan = formatted_plan(spark, "date_range_scan")
    pf = pushed_filters(plan)
    # the range predicate must reach the RAW scan column (native
    # timestamp[us] here) — a filter applied after a rebuild/cast of
    # ts would push nothing and force a full-table read at scale
    assert "GreaterThanOrEqual(ts," in pf
    assert "LessThan(ts," in pf


def test_legacy_nanos_events_fallback(spark, tmp_path):
    """Legacy TIMESTAMP(NANOS) events files still load: the reader
    falls back to nanosAsLong and rebuilds a micro-precision
    timestamp, and load_events_between pushes the bounds as raw
    nanos longs onto the scan."""
    import contextlib
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_generator_spark.sources.catalog import (
        load_events_between, load_table)

    d = tmp_path / "legacy"
    d.mkdir()
    ns = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([1706054400_000_000_000 + i * 86_400_000_000_000
                        for i in range(3)], pa.timestamp("ns")),
        "user_id": pa.array([10, 11, 12], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.0, 2.0, 3.0]),
        "props": pa.array(["{}", "{}", "{}"]),
    })
    pq.write_table(ns, str(d / "events.parquet"), version="2.6")

    ev = load_table(spark, "events", str(d))
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    assert ev.count() == 3

    ranged = load_events_between(spark, str(d),
                                 "2024-01-24", "2024-01-26")
    assert ranged.count() == 2
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranged.explain("formatted")
    pf = pushed_filters(buf.getvalue())
    assert "GreaterThanOrEqual(ts," in pf
    assert "LessThan(ts," in pf


def test_q5_dims_broadcast_no_sort_merge(spark):
    plan = formatted_plan(spark, "q5_local_supplier")
    assert "BroadcastHashJoin" in plan
    # at test SF every join side fits the broadcast threshold; AQE
    # must not have fallen back to sort-merge anywhere
    assert "SortMergeJoin" not in plan


def test_q4_uses_semi_join(spark):
    plan = formatted_plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_range_join_is_equi_join(spark):
    plan = formatted_plan(spark, "range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_window_no_join(spark):
    plan = formatted_plan(spark, "asof_join")
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct"):
        assert bad not in plan


@pytest.mark.parametrize("name", ["text_quality", "text_tokens",
                                  "text_fingerprint"])
def test_text_ops_have_no_shuffle_before_agg(spark, name):
    plan = formatted_plan(spark, name)
    # narrow map over the corpus: the only exchange allowed is the
    # widen-if-narrow round robin / final sort, never a hash
    # partitioning keyed on text
    assert "hashpartitioning(text" not in plan


def test_q19_disjunction_factored_to_both_scans(spark):
    plan = formatted_plan(spark, "q19_disjunctive")
    pf = pushed_filters(plan)
    # Catalyst must factor the OR-of-conjunctions into per-side
    # residuals that reach BOTH parquet scans
    assert "l_quantity" in pf
    assert "p_brand" in pf and "p_size" in pf


def test_q2_prefilters_before_aggregation(spark):
    plan = formatted_plan(spark, "q2_cheapest_supplier")
    # the size-15 part filter reaches a scan, and the fact side is
    # reduced via a broadcast semi join before the heavy groupBy
    assert "EqualTo(p_size,15)" in pushed_filters(plan)
    assert "LeftSemi" in plan


def test_q7_nation_filter_pushed_and_dims_broadcast(spark):
    plan = formatted_plan(spark, "q7_nation_trade")
    assert "In(n_name" in pushed_filters(plan)
    assert "BroadcastHashJoin" in plan


def test_dsl_nulls_safe_leaves_still_push(spark):
    plan = formatted_plan(spark, "dsl_nested_bool")
    pf = pushed_filters(plan)
    # null-safe leaf rewrite must not cost the scan-level pushdown
    assert "StringStartsWith(source,src1)" in pf
    assert "GreaterThanOrEqual(n_chars,200)" in pf


def test_filters_buckets_single_scan(spark):
    plan = formatted_plan(spark, "dsl_filters_buckets")
    # overlap-safe bucket explode must not re-scan per bucket
    # (each scan appears once as a numbered detail header)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_gopher_quality_single_scan(spark):
    plan = formatted_plan(spark, "gopher_quality")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_funnel_stages_single_scan(spark):
    plan = formatted_plan(spark, "funnel_stages")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_q9_like_filter_pushed_and_dims_broadcast(spark):
    plan = formatted_plan(spark, "q9_product_profit")
    assert "StringContains(p_name,red)" in pushed_filters(plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q11_threshold_does_not_rescan_lineitem(spark):
    # pv is checkpointed: the scalar threshold must not re-run the
    # lineitem scan, so at most one parquet scan survives in the plan
    plan = formatted_plan(spark, "q11_important_parts")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 1


def test_stream_stream_join_interval_bounds_in_condition(spark):
    plan = formatted_plan(spark, "stream_stream_join")
    # the time-interval predicates ride the join, not a post-filter
    assert re.search(r"Join.*c_ts.*v_ts", plan) or "10 minutes" in plan


@pytest.mark.parametrize("name", ["span_dedup", "char_entropy",
                                  "seq_packing",
                                  "source_temperature_sample"])
def test_wave5_no_pairwise_explosion(spark, name):
    """Wave-5 pipeline ops are shuffle-keyed, never pairwise: no
    nested-loop join or cartesian product may appear in the plan."""
    plan = formatted_plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_dup_block_plan_is_grouped_shuffle(spark):
    """Exact all-pairs runs as the triangle-block applyInPandas:
    grouped on the block-cell key, never a join — the O(N^2) lives
    inside cell tasks, not in the plan's join graph."""
    plan = formatted_plan(spark, "dedup_embedding")
    assert "FlatMapGroupsInPandas" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct",
                "SortMergeJoin", "BroadcastHashJoin"):
        assert bad not in plan


def test_embedding_dup_lsh_plan_is_bucket_grouped(spark):
    """The LSH variant shuffles once on (band, bucket) and verifies
    inside bucket-local GEMM tasks — no pairwise join anywhere in
    the plan."""
    plan = formatted_plan(spark, "dedup_embedding_lsh")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_registry_consistency():
    """The three registries can only drift apart silently: bench
    HEADLINE lists every queries() key but one, each once, every
    oracle must have a query, and rows-only entries are a deliberate,
    named exception list."""
    import bench

    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), sorted(
        k for k in set(bench.HEADLINE) if bench.HEADLINE.count(k) > 1)
    # dedup_ngram_jaccard is the one key deliberately left unbenched
    # (a brute-force exactness twin); any other key missing from
    # HEADLINE would go unbenched silently
    assert set(bench.HEADLINE) == q - {"dedup_ngram_jaccard"}, sorted(
        set(bench.HEADLINE) ^ (q - {"dedup_ngram_jaccard"}))
    assert o <= q, sorted(o - q)
    # every entry is oracle-backed since round 5 (the former
    # rows-only trio gained mirrored/deterministic oracles)
    assert q == o, sorted(q ^ o)


def test_bm25_topk_uses_take_ordered_not_global_window(spark):
    """The top-k is orderBy().limit(k) -> TakeOrderedAndProject
    (per-partition top-k, driver merges k*P rows); the only Window
    runs over the k surviving rows, never over every scored doc."""
    plan = formatted_plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan


def test_ntile_deciles_has_no_global_window(spark):
    """Exact ntile via distributed rank: every window in the plan is
    partitioned by the range-partition id — no windowspec that
    funnels the whole orders table through one partition."""
    plan = formatted_plan(spark, "ntile_deciles")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-partition row_number window"
    for spec in specs:
        assert spec.startswith("pid#"), spec


def test_ivfpq_plan_no_join_no_cartesian(spark):
    """ann_ivfpq is probe-filter -> narrow mapInPandas ->
    TakeOrderedAndProject: no join of anything data-sized, no
    cartesian product, and the final top-k never sorts the whole
    candidate set."""
    plan = formatted_plan(spark, "ann_ivfpq")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_domain_cap_window_is_partitioned(spark):
    """The per-domain rank window must partition on source (parallel
    across domains) — never an empty partition spec."""
    plan = formatted_plan(spark, "domain_cap_sample")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-source row_number window"
    for spec in specs:
        assert spec.startswith("source#"), spec


def test_date_math_now_bounds_reach_scan(spark):
    """now-anchored bounds must resolve to plain literals at plan
    time: the scan shows pushed ts range filters (wall-clock never
    enters the plan, row-group pruning applies)."""
    plan = formatted_plan(spark, "dsl_date_math_now")
    pushed = pushed_filters(plan)
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed


def test_front_keys_lead_queries():
    """The driver's correctness sampler reads 50 entries from the
    front of queries(); the round-13 FRONT window leads with the
    round-13 additions, then the 17 keys whose RENDERING changed
    this round (the analyzer class moving to the stored path, the
    french/romanian canonical fixes, the esql KNN/FUSE guards), then
    re-verification slots — cumulative hard ledger stays closed with
    zero new debt (every rotated-out key is green at its latest
    CORRECTNESS_r12 sample)."""
    q = list(entrymod.queries())
    present = [k for k in entrymod.FRONT_KEYS if k in entrymod.queries()]
    assert q[:len(present)] == present
    # every round-13 addition is fronted, leading the window
    additions = ["dsl_match_analyzer_fi", "dsl_match_analyzer_hu",
                 "dsl_match_analyzer_ar", "dsl_rrf_weighted",
                 "esql_fuse_docs",
                 "esql_fuse_linear", "dsl_tsds_downsample_served",
                 "dsl_rate_served", "esql_rate_served",
                 "esql_rate_week_served",
                 "esql_row", "esql_show", "dsl_retriever_linear"]
    assert present[:len(additions)] == additions
    for k in (  # every rendering-changed key is re-fronted
              "dsl_match_analyzer_fr", "dsl_match_analyzer_ro",
              "dsl_match_lang_routed", "dsl_match_analyzer_stored",
              "dsl_match_phrase_analyzer_stored",
              "esql_knn", "esql_fuse"):
        assert k in present, k
    # the sampler window is 50 wide: anything past 50 is next round's
    # rotation debt and must be called out in the FRONT_KEYS comment
    assert len(present) <= 50, "rotation debt: update the debt comment"
    # every FRONT key must exist
    missing = [k for k in entrymod.FRONT_KEYS if k not in entrymod.queries()]
    assert not missing, missing


def test_registry_rejects_a_key_defined_twice():
    """Two plan modules registering one key is an error naming both
    modules, never a silent overwrite."""
    from types import SimpleNamespace

    def q(spark, sf_dir):
        return None

    one = SimpleNamespace(__name__="plans.one", QUERIES={"k": q},
                          ORACLES={"k": "SELECT 1"})
    two = SimpleNamespace(__name__="plans.two", QUERIES={"k": q},
                          ORACLES={})
    with pytest.raises(ValueError, match="plans.one and plans.two"):
        entrymod.merge_registries([one, two])
    queries, oracles, owner = entrymod.merge_registries([one])
    assert queries == {"k": q} and oracles == {"k": "SELECT 1"}
    assert owner == {"k": "plans.one"}


def test_no_empty_partition_windows_in_source():
    """Tripwire for the scalar-aggregate-as-global-window
    anti-pattern: ``Window.partitionBy()`` (empty spec) funnels its
    whole input through one partition. Corpus-scale uses were
    converted to one-row scalar attachment (broadcast_scalars, a
    scalar subquery).

    Allowlisted sites (round 14): windows whose input is ALREADY
    LIMITed to the rank-window cap (retriever/fusion legs, <= 40
    rows at any corpus scale) — there the single partition is
    bounded by construction and the window replaces an eager
    per-leg scalar-collect job that re-ran the corpus leg scan
    (the r13 driver regression on the retriever class). Same
    boundedness argument as the long-standing
    ``Window.orderBy(...)`` rank windows over the same legs."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    # exact per-file site counts: a new site in an allowlisted file
    # trips this as surely as a site in a new file
    allowed = {"plans/esdsl_scoring.py": 1, "operators/esql.py": 1}
    found = {
        str(p.relative_to(root / "parquet_generator_spark")): n
        for p in (root / "parquet_generator_spark").rglob("*.py")
        if (n := p.read_text().count(".partitionBy()"))
    }
    # a stale allowlist entry (the site went away) must be pruned too
    assert found == allowed, found


def test_barriers_and_stores_have_one_owner_each():
    """Tripwire: in ``plans/`` and ``operators/`` every lineage
    barrier goes through ``cache.checkpoint`` (so ``release_all``
    drops its blocks), and only ``sinks/stores.py`` places a store
    under ``.scratch`` or reads/writes a store marker."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / \
        "parquet_generator_spark"
    store_marks = (".scratch", '"meta.json"', "'meta.json'",
                   'get("fingerprint")', '["fingerprint"]')
    barriers, stores = [], []
    for sub in ("plans", "operators"):
        for p in sorted((pkg / sub).rglob("*.py")):
            rel = str(p.relative_to(pkg))
            text = p.read_text()
            if "localCheckpoint(" in text and rel != "operators/cache.py":
                barriers.append(rel)
            if any(m in text for m in store_marks):
                stores.append(rel)
    assert barriers == [], barriers
    assert stores == [], stores


def test_minhash_stage_is_written_once():
    """Tripwire: the MinHash signature UDF has one call site in the
    package (``dedup.minhash_stage``) and the 64 band keys are built
    in one place per engine, so every near-dup caller shares the
    stage."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / \
        "parquet_generator_spark"
    texts = [p.read_text() for p in sorted(pkg.rglob("*.py"))]
    calls = sum(len(re.findall(r"(?<!def )\bminhash_signature\(", t))
                for t in texts)
    assert calls == 1, calls
    for band_key in ("concat_ws(',', sig[2*b], sig[2*b+1])",
                     "concat(sig[2 * b.band + 1], ',', "
                     "sig[2 * b.band + 2])"):
        assert sum(t.count(band_key) for t in texts) == 1, band_key


def test_plan_modules_are_named_by_family():
    """Tripwire: a ``plans/`` module is named by the family it holds
    (``dedup.py``, ``esdsl_aggs.py``), never by the round that added
    it (``llm_queries7.py``, ``analytics3.py``)."""
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent / \
        "parquet_generator_spark" / "plans"
    numbered = sorted(p.name for p in plans.glob("*.py")
                      if re.search(r"_queries\d+\.py$", p.name)
                      or re.search(r"^analytics\d+\.py$", p.name))
    assert numbered == [], numbered


def test_every_package_module_is_reachable():
    """Tripwire: every module under ``parquet_generator_spark/`` is
    reached by static imports from an entry point — a ``plans/``
    module (the registry loads each one), ``cli``, ``etl``,
    ``__main__``, ``session`` — or named by the analyzers' stemmer
    table (imported by name). A module only tests import is dead
    weight."""
    import ast
    import pathlib

    from parquet_generator_spark.operators.analyzers import _STEMMERS

    pkg = pathlib.Path(__file__).resolve().parent.parent / \
        "parquet_generator_spark"
    files = {}
    for p in pkg.rglob("*.py"):
        parts = p.relative_to(pkg.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        files[".".join(parts)] = p

    def imports(mod):
        here = mod if files[mod].name == "__init__.py" else \
            mod.rpartition(".")[0]
        for node in ast.walk(ast.parse(files[mod].read_text())):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = here
                for _ in range(node.level - 1):
                    base = base.rpartition(".")[0]
                if node.level:
                    base = ".".join(filter(None, [base, node.module]))
                else:
                    base = node.module
                yield base
                yield from (f"{base}.{a.name}" for a in node.names)

    roots = [m for m in files if m.startswith(f"{pkg.name}.plans")]
    roots += [f"{pkg.name}.{m}" for m in
              ("cli", "etl", "__main__", "session")]
    roots += [f"{pkg.name}.operators.{m}" for m, _ in _STEMMERS.values()]
    seen, todo = set(), list(roots)
    while todo:
        mod = todo.pop()
        # importing a.b.c runs a and a.b first
        chain = mod.split(".")
        for i in range(1, len(chain) + 1):
            name = ".".join(chain[:i])
            if name in files and name not in seen:
                seen.add(name)
                todo.extend(imports(name))
    unreached = sorted(set(files) - seen)
    assert unreached == [], unreached


def test_stemmer_sql_plumbing_has_one_owner():
    """Tripwire: ``operators/stem_sql.py`` owns the dialect plumbing,
    so no stemmer module defines its own ``_let``/``_st``/``_ql``/
    ``_quote_list``, and ``analyzers.py`` picks a stemmer from its
    one table, never through a ``kind == "<language>"`` branch."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parent.parent / \
        "parquet_generator_spark" / "operators"
    plumbing = {"_let", "_st", "_ql", "_quote_list"}
    copies = []
    for p in sorted([*ops.glob("snowball_*.py"), ops / "porter.py"]):
        for node in ast.walk(ast.parse(p.read_text())):
            names = ([node.name] if isinstance(
                node, (ast.FunctionDef, ast.ClassDef)) else
                [t.id for t in getattr(node, "targets", [])
                 if isinstance(t, ast.Name)])
            copies += [f"{p.name}:{n}" for n in names if n in plumbing]
    branches = []
    tree = ast.parse((ops / "analyzers.py").read_text())
    for node in ast.walk(tree):
        if (isinstance(node, ast.Compare)
                and isinstance(node.left, ast.Name)
                and node.left.id == "kind"):
            lits = [c.value for side in node.comparators
                    for c in ast.walk(side)
                    if isinstance(c, ast.Constant)
                    and isinstance(c.value, str)]
            branches += [f"line {node.lineno}: {v!r}" for v in lits
                         if v != "s"]
    assert copies == [], copies
    assert branches == [], branches


def test_key_runner_has_one_owner():
    """Tripwire: ``scripts/keyrun.py`` owns how a key is run and checked,
    so no other harness (bench.py, scripts/, the parity sweep) defines
    its own ``norm``/``canon``, forbidden DuckDB-type list or warm-up key
    list, or tags and reads Spark jobs itself. bench's HEADLINE is the
    one key list allowed outside keyrun."""
    import ast
    import pathlib

    keys = set(entrymod.queries())
    root = pathlib.Path(__file__).resolve().parent.parent
    paths = [root / "bench.py", *sorted((root / "scripts").glob("*.py")),
             root / "tests" / "test_oracle_parity.py"]
    job_calls = {"setJobGroup", "setJobDescription", "statusTracker"}
    found = []
    for p in paths:
        if p.name == "keyrun.py":
            continue
        tree = ast.parse(p.read_text())
        headline = {id(n.value) for n in ast.walk(tree)
                    if isinstance(n, ast.Assign)
                    and any(getattr(t, "id", "") == "HEADLINE"
                            for t in n.targets)}
        for node in ast.walk(tree):
            where = f"{p.name}:{getattr(node, 'lineno', '?')}"
            if (isinstance(node, ast.FunctionDef)
                    and node.name.lstrip("_") in {"norm", "canon"}):
                found.append(f"{where} defines {node.name}")
            elif isinstance(node, ast.Attribute) and node.attr in job_calls:
                found.append(f"{where} calls {node.attr}")
            elif (isinstance(node, (ast.Tuple, ast.List, ast.Set))
                  and id(node) not in headline):
                lits = {e.value for e in node.elts
                        if isinstance(e, ast.Constant)}
                if "HUGEINT" in lits:
                    found.append(f"{where} lists forbidden DuckDB types")
                if len(lits & keys) >= 2:
                    found.append(f"{where} lists registry keys")
    assert found == [], found


@pytest.mark.parametrize("name", ["q15_top_supplier", "vocab_coverage",
                                  "dsl_significant_terms",
                                  "embedding_norm_outliers"])
def test_scalar_literal_queries_have_no_nested_loop(spark, name):
    """Queries whose corpus-wide scalars are attached as a scalar
    subquery (broadcast_scalars) must stay free of the nested-loop
    join a crossJoin(broadcast(one_row)) would reintroduce."""
    plan = formatted_plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# keys whose every plan-build job was the eager collect of a
# broadcast_scalars call before it became a scalar subquery
SCALAR_ONLY_BUILD_KEYS = [
    "benford_digits", "data_mixture_report", "doc_keywords", "drift_psi",
    "dsl_change_point", "dsl_global_agg", "dsl_more_like_this",
    "dsl_normalize", "dsl_parent_id", "dsl_significant_terms",
    "dsl_significant_text", "embedding_norm_outliers", "epoch_plan",
    "esql_change_point", "lang_source_chi2", "pareto_cumshare",
    "q15_top_supplier", "q22_idle_customers", "rfm_segmentation",
    "source_temperature_sample", "table_profile", "table_profile_approx",
    "vocab_coverage"]
# keys whose scalars were collected to literals by hand in their own
# plan module; their remaining build jobs are lineage barriers
REROUTED_SCALAR_KEYS = ["cooccurrence_pmi", "bm25_topk",
                        "gini_source_balance", "cluster_purity",
                        "dsl_string_stats"]


def build_job_stages(spark, name: str) -> list[list[str]]:
    """Stage names of every job fired while ``name``'s plan is BUILT
    (no action on the result), one list per job. The tables are read
    first, so a first read's parquet schema job is not counted."""
    from parquet_generator_spark.operators import cache
    from parquet_generator_spark.sources.catalog import load_tables

    load_tables(spark, SF_DIR)
    sc = spark.sparkContext
    group = f"build:{name}"
    with cache.scope():
        sc.setJobGroup(group, group)
        try:
            entrymod.queries()[name](spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return [[tracker.getStageInfo(s).name
             for s in tracker.getJobInfo(j).stageIds]
            for j in sorted(tracker.getJobIdsForGroup(group))]


@pytest.mark.parametrize("name", SCALAR_ONLY_BUILD_KEYS)
def test_scalar_attach_runs_no_build_job(spark, name):
    """Tripwire: attaching a scalar is lazy, so building these keys
    runs no Spark job at all."""
    assert build_job_stages(spark, name) == []


@pytest.mark.parametrize("name", REROUTED_SCALAR_KEYS)
def test_rerouted_scalars_run_no_build_job(spark, name):
    """Tripwire: no build job of these keys is called from their own
    plan module, where their scalars used to be collected."""
    import inspect
    import os

    module = os.path.basename(
        inspect.getsourcefile(entrymod.queries()[name]))
    stages = build_job_stages(spark, name)
    assert not [j for j in stages if any(module in s for s in j)], stages


# the only queries allowed a BroadcastNestedLoopJoin: deliberately
# pairwise kernels whose build side is a bounded broadcast (the O(n^2)
# exact-Jaccard baseline; brute-force ANN / k-NN where the query/label
# set broadcasts against one corpus pass)
PAIRWISE_KERNELS = {"dedup_ngram_jaccard", "ann_bruteforce",
                    "knn_classify", "feature_hash_retrieval",
                    "retrieval_eval",
                    # round 6: evaluation queries embedding the same
                    # bounded broadcast kernels (knn predictions /
                    # brute-force ANN truth)
                    "knn_eval_confusion", "ivf_recall_curve",
                    # round 8: banding tuner prices (b,r) configs
                    # against exact pair similarities of a BOUNDED
                    # calibration sample (doc_id <= 200) — the same
                    # deliberately-pairwise jaccard kernel
                    "lsh_bands_planner"}


def test_no_unexpected_nested_loop_in_any_plan(spark):
    """Global tripwire over EVERY registered query: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in
    the named deliberately-pairwise kernels."""
    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif ("BroadcastNestedLoopJoin" in plan
              and name not in PAIRWISE_KERNELS):
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_no_forced_broadcast_of_unbounded_frames():
    """Round-8 tripwire: these operators once force-broadcast frames
    whose cardinality grows with the data (corpus vec_ids, per-user
    anchors, vocab idf/unigram tables). At 100 TB such a broadcast
    exceeds any broadcast limit and kills the job, so the hints were
    dropped — plain equi-joins let AQE pick shuffle-hash (or broadcast
    only when runtime stats say the side is genuinely small). Any
    reintroduced ``F.broadcast`` in these bodies is a scale
    regression."""
    import inspect

    from parquet_generator_spark.plans.analytics import cohort_retention
    from parquet_generator_spark.plans.retrieval import (
        bm25_topk,
        knn_classify,
        knn_classify_ivf,
    )
    from parquet_generator_spark.plans.text_tokens import (
        cooccurrence_pmi,
        tfidf_topterms,
    )

    for fn in (knn_classify_ivf, knn_classify, cohort_retention,
               tfidf_topterms, bm25_topk, cooccurrence_pmi):
        src = inspect.getsource(fn)
        assert "F.broadcast(" not in src, (
            f"{fn.__name__} reintroduced a forced broadcast of an "
            f"unbounded frame")


def test_table_profile_approx_plan_is_expand_free(spark):
    """The production profiler path (HLL++ sketches beside plain
    stats, one aggregate pass) must not contain the Expand node that
    exact multi-distinct forces — that Expand is exactly what makes
    the exact profiler scale-weak."""
    from parquet_generator_spark.plans.corpus import profile_frame_approx
    from parquet_generator_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        profile_frame_approx(li).explain("formatted")
    plan = buf.getvalue()
    assert "Expand" not in plan, plan
    # HLL sketch buffers route to SortAggregate; either way it is
    # one partial-then-final aggregate pair, no Expand in between
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_nested_query_requires_same_element(spark):
    """The defining nested-vs-flat distinction: a parent whose array
    has a cheap purchase and an expensive click must NOT match a
    nested (purchase AND value>=90) query — both conditions must hold
    on ONE element. A flat bool over exploded fields would wrongly
    match it."""
    from parquet_generator_spark.operators.esdsl import search

    df = spark.createDataFrame(
        [(1, [("purchase", 10.0), ("click", 95.0)]),
         (2, [("purchase", 95.0)]),
         (3, [("click", 95.0)]),
         (4, None)],
        "id long, items array<struct<event_type string, value double>>")
    q = {"nested": {"path": "items", "query": {"bool": {
        "must": [{"term": {"items.event_type": "purchase"}},
                 {"range": {"items.value": {"gte": 90.0}}}]}}}}
    got = sorted(r["id"] for r in search(df, {"query": q}).collect())
    assert got == [2]
    # must_not over a nested leaf: null-safe, the null-array parent
    # and the no-match parents come back
    got = sorted(r["id"] for r in search(df, {"query": {"bool": {
        "must_not": [q]}}}).collect())
    assert got == [1, 3, 4]


def test_has_child_is_semi_join_no_row_multiplication(spark):
    """has_child must reach the parents through a LEFT SEMI join (ES
    parent-child never multiplies parent rows); the child-side count
    aggregate partial-aggregates before the shuffle."""
    plan = formatted_plan(spark, "dsl_has_child")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_geo_queries_scan_only_needed_columns(spark):
    """The geo predicates are projections over user_id — the events
    scan must prune to the columns the query touches, not read the
    whole row (ReadSchema discipline for runtime fields)."""
    plan = formatted_plan(spark, "dsl_geo_distance")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    assert "user_id" in cols
    assert "props" not in cols and "event_type" not in cols, cols


def test_percolate_is_single_scan_no_join(spark):
    """The whole stored-query registry must evaluate in ONE scan of
    documents (Q codegen predicates in one projection + a
    constant-factor explode) — a per-stored-query scan or join would
    multiply the 100 TB read by the registry size."""
    plan = formatted_plan(spark, "dsl_percolate")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_rank_function_queries_use_take_ordered(spark):
    """Every round-7 ranking query reduces through
    TakeOrderedAndProject (per-partition top-k then merge of k) —
    never a global sort of all matches."""
    for name in ("dsl_rank_feature", "dsl_script_score",
                 "dsl_distance_feature", "dsl_random_score",
                 "dsl_dis_max_boosting"):
        plan = formatted_plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Join" not in plan, name


def test_geo_shape_and_geohash_are_projection_only(spark):
    """Polygon containment and geohash bucketing are pure per-row
    arithmetic: one scan, no join, no window."""
    for name in ("dsl_geo_shape", "dsl_geohash_grid"):
        plan = formatted_plan(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert "Join" not in plan, name
        assert "Window" not in plan, name


_R8_SESSION2_KEYS = [
    # modern search surface
    "dsl_combined_fields", "dsl_match_bool_prefix",
    "dsl_min_max_sum_bucket", "dsl_msearch", "dsl_search_template",
    "dsl_rrf", "dsl_geo_polygon",
    # corpus hygiene + revenue diagnostics
    "dedup_edit_distance", "url_dedup_normalized", "pii_density",
    "url_blocklist_filter", "benford_digits", "pareto_cumshare",
    "yoy_growth",
    # paging / rings / spans / hybrid / MRL / mixture audit
    "dsl_terms_partition", "dsl_geo_distance_rings",
    "dsl_span_or_not", "dsl_hybrid_score", "matryoshka_overlap",
    "lang_source_chi2", "exif_orientation_parse", "dsl_rule_query",
    "dq_referential_audit", "incremental_agg_merge",
    "dsl_ltr_rescore", "dsl_retriever_pipeline",
    "dsl_explain_score", "stream_windowed_topk",
    "dsl_composite_mixed", "dsl_multi_knn", "hard_negative_mining",
    "dsl_collapse_inner_hits", "embedding_outlier_mahalanobis",
    "lexicon_filter_stats", "dsl_terms_missing", "skew_key_report",
    "dsl_date_histogram_tz", "dsl_moving_fn_max",
    "dsl_terms_min_doc_count", "dup_rate_by_source",
    "hourly_seasonality",
]


@pytest.mark.parametrize("name", _R8_SESSION2_KEYS)
def test_r8_wave2_no_pairwise_explosion(spark, name):
    """Every query added in the round-8 continuation session is
    shuffle-keyed or bounded-window shaped: no nested-loop join or
    cartesian product anywhere in the physical plan (the
    dedup_edit_distance candidate join MUST surface as an equi-join
    on the blocking key, never a filtered cross join)."""
    plan = formatted_plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_terms_partition_filter_is_pre_shuffle(spark):
    """The terms-partition md5 filter must run BEFORE the aggregate
    (map-side): in the top-down executedPlan tree the Filter carrying
    the hash is a CHILD of (printed after) every HashAggregate, so
    each page shuffles ~1/P of the keys. A regression that lifts the
    filter above the aggregate flips the print order and fails."""
    df = entrymod.queries()["dsl_terms_partition"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    filt_at = min((i for i, line in enumerate(plan.splitlines())
                   if "Filter" in line and "md5" in line),
                  default=None)
    aggs = [i for i, line in enumerate(plan.splitlines())
            if "HashAggregate" in line]
    assert filt_at is not None, "md5 partition filter missing"
    assert aggs and all(a < filt_at for a in aggs), \
        "partition filter must sit below the aggregates (map-side)"
    assert "TakeOrderedAndProject" in plan


_R9_KEYS = [
    "dsl_match_analyzer", "dsl_match_synonyms",
    "dsl_match_phrase_analyzer", "bpe_vocab_train",
    "bpe_encode_stats", "jpeg_decode_stats", "quality_model_score",
]


@pytest.mark.parametrize("name", _R9_KEYS)
def test_r9_no_pairwise_explosion(spark, name):
    """Round-9 queries are scan+aggregate shaped: no nested-loop or
    cartesian join anywhere in the physical plan."""
    plan = formatted_plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name", ["dsl_match_analyzer", "dsl_match_synonyms",
             "dsl_match_phrase_analyzer", "quality_model_score"])
def test_r9_analyzer_family_is_codegen_single_scan(spark, name):
    """Analyzer predicates and the quality model are higher-order
    functions over ONE scan — no Python eval node, no join, and the
    scan reads only the referenced columns."""
    plan = formatted_plan(spark, name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "Join" not in plan, name


def test_bpe_encode_stats_single_corpus_pass(spark):
    """Encoding is 2K replaces inside one projection: exactly one
    documents scan in the FINAL plan (training runs eagerly inside
    the builder and does not appear in the returned DAG), one
    aggregate pair, no join."""
    plan = formatted_plan(spark, "bpe_encode_stats")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_bpe_training_is_one_vocabulary_collect(spark):
    """Building bpe_encode_stats trains the merges on the driver from
    one collect of the word-frequency table: at most two jobs (its
    shuffle and result) and no checkpoint. A per-round Spark loop
    would fire jobs and register barriers on every merge."""
    from parquet_generator_spark.operators import cache

    sc = spark.sparkContext
    group = "bpe_build_jobs"
    before = cache.tracked_count()
    sc.setJobGroup(group, group)
    try:
        entrymod.queries()["bpe_encode_stats"](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert cache.tracked_count() == before


def test_dedup_simhash_is_one_lazy_plan(spark):
    """Building dedup_simhash fires no job and registers no
    checkpoint: the hot-bucket cap is a window inside the bucket
    exchange, not an eager size pass. The executed plan computes the
    signature and band keys in ONE mapInPandas kernel, with no
    scalar-UDF node, no broadcast and no anti-join."""
    from parquet_generator_spark.operators import cache

    sc = spark.sparkContext
    group = "simhash_build_jobs"
    before = cache.tracked_count()
    sc.setJobGroup(group, group)
    try:
        df = entrymod.queries()["dedup_simhash"](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert cache.tracked_count() == before
    df.collect()
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastExchange" not in plan
    assert "LeftAnti" not in plan
    # the cap window and the bucket collect share one band exchange
    assert len(re.findall(r"Exchange hashpartitioning\(band", plan)) == 1


def test_jpeg_decode_stats_is_one_narrow_pandas_map(spark):
    """The decode is ONE mapInPandas over the filtered scan: no
    shuffle before the pandas node (Exchange only for the final
    orderBy), and the scan carries the doc_id % 7 filter."""
    plan = formatted_plan(spark, "jpeg_decode_stats")
    assert "MapInPandas" in plan
    # exactly ONE exchange in the whole plan — the final orderBy's
    # range partitioning; the decode itself is shuffle-free
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # and the scan is pruned to the single driving column
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_counter_rate_windows_partition_on_series_key(spark):
    """TSDS counter rate: every window in the plan partitions on the
    series key (user_id) — no unpartitioned global-sort window."""
    plan = formatted_plan(spark, "dsl_counter_rate")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-series lag/cumsum windows"
    for spec in specs:
        assert spec.startswith("user_id#"), spec
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "gopher_repetition", "repetition_runs", "changelog_apply",
    "hash_sample", "quality_prune_curve", "temperature_sweep",
    "context_window_fill",
])
def test_round11_tranche_plans_no_pairwise(spark, name):
    """Round-11 curation/CDC tranche: no cartesian/nested-loop
    anywhere — the sweeps explode LITERALS after the reduction, the
    windows are key-partitioned, and joins are co-partitioned or
    bounded broadcasts."""
    plan = formatted_plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", [
    "c4_line_filters", "dsir_importance_weights",
    "filter_ablation_grid", "quality_classifier_gd",
    "esql_fork", "esql_cidr_match", "esql_sample",
    "dsl_match_analyzer_pt", "dsl_match_analyzer_sv",
    "dsl_match_analyzer_da", "dsl_match_analyzer_no",
])
def test_tranche8_plans_no_pairwise(spark, name):
    """Round-11 tranche eight: no cartesian/nested-loop anywhere —
    the stemmer matches are scan filters, the curation passes are
    single-scan maps + bounded groupBys, DSIR's joins are broadcast
    by construction."""
    plan = formatted_plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_distribution_joins_are_broadcast(spark):
    """The 128-row distribution frame must reach the scoring join
    as a broadcast — a sort-merge here would shuffle the full token
    explode by bucket."""
    plan = formatted_plan(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_esql_sample_predicate_is_a_scan_stage_filter(spark):
    """SAMPLE must ride the first stage as a stateless filter (the
    1/p downstream cut), not follow an exchange."""
    plan = formatted_plan(spark, "esql_sample")
    # the md5-Bernoulli sits in the Filter node DIRECTLY above the
    # scan (node 2 over node 1), i.e. in the first stage before any
    # aggregation exchange
    m = re.search(r"\(2\) Filter\nInput.*\nCondition : (.*)", plan)
    assert m, plan
    assert "md5" in m.group(1)
    assert re.search(r"Filter \(2\)\n\s+\+- Scan parquet", plan)
    # and the scan is pruned to the three referenced columns
    assert re.search(r"ReadSchema: struct<event_id:bigint,"
                     r"user_id:bigint,event_type:string>", plan)


def test_esql_cidr_blocks_fold_to_between_arithmetic(spark):
    """CIDR blocks must be parse-time literals (BETWEEN ranges) —
    no regex, no UDF in the predicate."""
    from parquet_generator_spark.operators.esql import (
        esql_duck_sql,
        parse_esql,
    )
    from parquet_generator_spark.plans.esql import PIPELINES

    sql = esql_duck_sql(parse_esql(PIPELINES["esql_cidr_match"].query))
    assert "BETWEEN 167772160 AND 184549375" in sql  # 10.0.0.0/8
    assert "BETWEEN 3232235520 AND 3232301055" in sql  # 192.168/16


def test_dedup_index_serving_has_no_corpus_signature_pass(spark):
    """The served classification must compute signatures for the
    BATCH only — exactly one Arrow/pandas evaluation in the plan;
    the corpus side is pure snapshot scans (the
    train-once/serve-forever contract, ann_ivfpq_served posture)."""
    import re as _re

    plan = formatted_plan(spark, "dedup_index_served")
    # the batch's one signature pass is materialized behind the
    # checkpoint barrier, so the SERVED plan itself carries ZERO
    # Python evaluations — only snapshot scans + joins
    evals = _re.findall(r"ArrowEvalPython|BatchEvalPython", plan)
    assert evals == [], evals
    assert ".scratch/stores/dedup_index/" in plan  # stored tables feed it
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_int8_rescore_two_tier_plan(spark):
    """Two TakeOrdered tiers, the exact tier joined on the bounded
    R-row pool (broadcast) — no wide shuffle, no pairwise join."""
    plan = formatted_plan(spark, "ann_int8_rescore")
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject",
                          plan)) == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
