"""Plan-shape assertions over the whole query registry: the properties
the engine's 100 TB design notes promise (README) should be visible in
every optimized plan, not just in docstrings.

* no unbroadcast cartesian products (BroadcastNestedLoopJoin over a
  broadcast side is fine — that's the intended crossJoin(broadcast(q))
  shape; CartesianProduct means an accidental n×m shuffle explosion)
* no row-at-a-time Python UDFs (BatchEvalPython); the only Python
  boundaries are Arrow-batched (ArrowEvalPython / FlatMapGroupsInPandas
  / MapInPandas)
* every UNPARTITIONED Window (the `WindowExec: No Partition Defined`
  single-partition shape) sits above an aggregate — the tiny-frame
  discipline the docstrings promise (token_gini's rank window runs
  over ≤|sources| rows, never over the corpus), made mechanical
* filtered parquet scans actually push their filters (spot-check)
* every parquet read in the package pins its schema (static scan), so
  no read fires a schema-inference job, bar an allowlist with reasons
* the stateful streams share one ``applyInPandasWithState`` site with
  no TTL parameter, and no write flips the session's partition
  overwrite mode (static scans)
* the audio family has one container dispatch and one window digest,
  and no tool puts a fixed checkout path on ``sys.path`` (static scans)
* every md5-prefix integer is ``functions.hashing.md5_int`` and the
  KMV, HyperLogLog and seeded-bucket sketches have one core beside it
  (static scan)
"""

from __future__ import annotations

import ast
import collections
import pathlib
import re

import pytest

from data_pipeline_example_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"

_BOUNDED_BELOW = (
    "HashAggregate",        # incl. ObjectHashAggregate / SortAggregate
    "SortAggregate",
    "LocalTableScan",       # literal planning frames (histogram cuts)
    "TakeOrderedAndProject",  # global top-n: parameter-bounded rows
    "GlobalLimit",            # .limit(n) frames (every n is a parameter)
)


def _executed_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _top_level_lists(args: str) -> list[str]:
    """Top-level ``[...]`` lists in a formatted-plan Arguments line.
    A physical Window prints [functions], then the partition spec and
    order spec lists — each omitted when empty."""
    out, depth, start = [], 0, -1
    for i, ch in enumerate(args):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(args[start:i])
    return out


def _window_is_unpartitioned(args: str) -> bool:
    """3 lists = partitioned+ordered; 2 lists = EITHER unpartitioned+
    ordered (second list is a sort spec — carries ASC/DESC) OR
    partitioned+unordered (plain column list); 1 list = neither spec,
    i.e. a global frame."""
    lists = _top_level_lists(args)
    if len(lists) >= 3 or not lists:
        return False
    if len(lists) == 1:
        return True
    return " ASC" in lists[1] or " DESC" in lists[1]


def _unbounded_single_partition_windows(plan: str) -> list[str]:
    """Node ids of unpartitioned Windows with NO aggregate (or literal
    frame) anywhere beneath them — the shape where the executor that
    hosts the single partition receives unbounded input."""
    tree, _, details = plan.partition("\n\n")
    args = dict(
        re.findall(r"\((\d+)\) Window\b[^\n]*\n(?:[^\n]*\n)*?Arguments: ([^\n]*)", details)
    )
    lines = tree.split("\n")
    offenders = []
    for i, line in enumerate(lines):
        m = re.search(r"(\s*)(?:[:+\-* ]*)Window(?:\w*)? \((\d+)\)", line)
        if not m:
            continue
        node_id = m.group(2)
        if node_id not in args or not _window_is_unpartitioned(args[node_id]):
            continue
        indent = len(line) - len(line.lstrip(" :+-*"))
        subtree = []
        for nxt in lines[i + 1 :]:
            if len(nxt) - len(nxt.lstrip(" :+-*")) <= indent:
                break
            subtree.append(nxt)
        if not any(b in s for s in subtree for b in _BOUNDED_BELOW):
            offenders.append(node_id)
    return offenders


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_no_row_udf_no_unbounded_global_window(spark, name):
    plan = _executed_plan(QUERIES[name](spark, SF))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    bad = _unbounded_single_partition_windows(plan)
    assert not bad, (
        f"{name} plans unpartitioned Window node(s) {bad} with no "
        "aggregate beneath — single-partition window over unbounded input"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _executed_plan(QUERIES["top_revenue_orders"](spark, SF))
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters", 1)[1][:400]


def test_forecast_revenue_pushes_all_range_filters(spark):
    plan = _executed_plan(QUERIES["forecast_revenue"](spark, SF))
    pushed = plan.split("PushedFilters", 1)[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to the lineitem scan"


def test_market_share_broadcasts_bounded_dims_only(spark):
    plan = _executed_plan(QUERIES["market_share"](spark, SF))
    # bounded dims (part, supplier+nation, nation+region) broadcast;
    # since the r6 sweep the CUSTOMER-derived side is deliberately
    # unhinted (it scales with the fact table — forced broadcast is the
    # driver-OOM anti-pattern), so the static plan may carry up to two
    # SortMergeJoins: lineitem⋈orders and orders⋈customer (AQE converts
    # the latter to broadcast at runtime when the filtered side is
    # small)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 2


def test_asof_join_single_shuffle_no_pairs_blowup(spark):
    plan = _executed_plan(QUERIES["asof_last_view"](spark, SF))
    # union trick: a window over (user_id, ts) — never a range join
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


_PKG = pathlib.Path(__file__).resolve().parent.parent / "data_pipeline_example_spark"

# Parquet reads left to schema inference on purpose, per (file,
# function): (number of sites, reason).
_INFERRED_PARQUET_READS = {
    ("sources/tables.py", "read_parquet_pinned"): (
        1, "path off the driver's filesystem: no footer to check without a job"),
    ("sinks.py", "compact_partitions"): (
        1, "any caller's partitioned table: partition column types inferred"),
    ("sinks.py", "upsert_partitioned"): (
        1, "partition types inferred on purpose; a missing path means first write"),
    ("streaming/job.py", "read_ivm_daily_revenue"): (
        1, "epoch-partitioned partials: partition column types inferred"),
    ("streaming/job.py", "compact_ivm_partials"): (
        1, "partials may not exist yet (AnalysisException means nothing to do)"),
}


def _call_chain(node) -> list[str]:
    """Attribute names along a method chain, outermost call first."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def _unpinned_parquet_reads() -> collections.Counter:
    """(file, enclosing function) of every ``.parquet(`` read whose
    reader chain carries no ``.schema(``."""
    found: collections.Counter = collections.Counter()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        stack: list[str] = []

        def visit(node):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack.append(node.name)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                chain = _call_chain(node.func.value)
                if not {"write", "writeStream", "schema"} & set(chain):
                    found[(rel, stack[-1] if stack else "<module>")] += 1
            for child in ast.iter_child_nodes(node):
                visit(child)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack.pop()

        visit(ast.parse(path.read_text(), str(path)))
    return found


def test_parquet_reads_pin_their_schema():
    """A ``spark.read.parquet`` without ``.schema(`` fires a Spark job
    to infer what the engine usually knows. New sites must pin
    (``sources.tables.read_parquet_pinned`` or ``.schema(...)``) or
    join the allowlist with a reason; stale allowlist entries fail too."""
    found = _unpinned_parquet_reads()
    allowed = {k: n for k, (n, _) in _INFERRED_PARQUET_READS.items()}
    unexpected = {k: n for k, n in found.items() if allowed.get(k) != n}
    stale = sorted(set(allowed) - set(found))
    assert not unexpected, f"parquet reads without .schema(: {unexpected}"
    assert not stale, f"allowlisted sites no longer exist: {stale}"


def test_no_engine_session_conf_options():
    """The engine reads no options of its own from the session conf: a
    ``spark.data_pipeline_example.*`` key is a knob no caller sets, and
    a behavior switch belongs in a parameter a real caller passes."""
    prefix = "spark.data_pipeline_example."
    found = [
        f"{path.relative_to(_PKG).as_posix()}:{node.lineno}"
        for path in sorted(_PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(prefix)
    ]
    assert not found, f"session-conf option keys under {prefix!r}: {found}"


def _package_nodes():
    """(file, node) for every AST node of the package source."""
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            yield rel, node


def test_one_keyed_state_site():
    """Every custom-state stream goes through ``streaming.job.keyed_state``,
    the package's only ``applyInPandasWithState`` call."""
    found = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandasWithState"
    ]
    assert len(found) == 1 and found[0].startswith("streaming/job.py:"), found


def test_no_state_ttl_parameter():
    """Keyed state never times out: no ``state_ttl_ms`` parameter."""
    found = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes()
        if isinstance(node, ast.arg) and node.arg == "state_ttl_ms"
    ]
    assert not found, f"state_ttl_ms parameters: {found}"


def test_no_session_partition_overwrite_toggle():
    """A dynamic partition overwrite is the writer option
    ``partitionOverwriteMode``; setting the session conf would change
    every other write in the session while it is set."""
    found = [
        f"{rel}:{node.lineno}"
        for rel, node in _package_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and "conf" in _call_chain(node.func.value)
        and any(
            isinstance(a, ast.Constant)
            and isinstance(a.value, str)
            and "partitionOverwriteMode" in a.value
            for a in node.args
        )
    ]
    assert not found, f"session conf toggles of partitionOverwriteMode: {found}"


def _nodes_with_function(root: pathlib.Path):
    """(file, outermost enclosing function or ``<module>``, node) for
    every AST node of the ``*.py`` files under ``root``."""
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
            for node in ast.walk(top):
                yield rel, owner, node


def test_one_audio_decode_and_window_core():
    """The audio family decodes through one container dispatch and keys
    duplicate windows on one digest: ``decode_wav`` / ``decode_aiff``
    are named only inside ``multimodal.decode_audio``, the PCM hex the
    window digest hashes is rendered only inside
    ``multimodal.window_digest``, and the batch sweep and its stream
    twin both call that function."""
    decoders = {"decode_wav", "decode_aiff"}
    named, hexed, digest_callers = [], [], set()
    for rel, owner, node in _nodes_with_function(_PKG):
        site = (rel, owner)
        if isinstance(node, ast.Name) and node.id in decoders:
            named.append(site)
        if isinstance(node, ast.ImportFrom):
            named += [site for a in node.names if a.name in decoders]
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "hex":
                hexed.append(site)
            if node.func.attr == "window_digest":
                digest_callers.add(site)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "window_digest":
                digest_callers.add(site)
    dispatch = ("operators/multimodal.py", "decode_audio")
    assert named and set(named) == {dispatch}, named
    assert hexed == [("operators/multimodal.py", "window_digest")], hexed
    assert {
        ("operators/multimodal.py", "wav_dup_windows"),
        ("streaming/curation.py", "dedup_audio_stream"),
    } <= digest_callers, digest_callers


def test_tools_resolve_the_checkout_from_their_own_path():
    """``tools/*.py`` find the package relative to their own file: a
    string literal on ``sys.path`` would make a tool run from another
    checkout silently import (and measure) a different copy of the
    code."""
    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    found = [
        f"{rel}:{node.lineno}"
        for rel, _, node in _nodes_with_function(tools)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("insert", "append")
        and _call_chain(node.func.value) == ["path"]
        and any(
            isinstance(a, ast.Constant) and isinstance(a.value, str)
            for a in node.args
        )
    ]
    assert not found, f"string literals put on sys.path: {found}"


def test_one_word_rule_and_one_word_gram_builder():
    """The text family knows one word rule and one word-gram build:
    ``functions.text.lower_tokens`` and ``functions.text.word_grams``.
    No other package file spells out a lowercase tokenize, the token
    regex, or a hand-built k-gram."""
    banned = (
        "array_join(slice(",
        "element_at(t, i + 2)",
        "shingles_from_tokens",
        "T.tokens(F.lower(",
        "TOKEN_PATTERN",
    )
    found = [
        f"{path.relative_to(_PKG).as_posix()}:{lineno}: {needle}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.relative_to(_PKG).as_posix() != "functions/text.py"
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for needle in banned
        if needle in line
    ]
    assert not found, f"word rule or word-gram build outside functions/text.py: {found}"


def _side_column(node) -> str:
    """The literal start of the column name in an ``F.col("a.x")`` /
    ``F.col(f"a.{name}")`` call, else ``""``."""
    if not (
        isinstance(node, ast.Call)
        and _call_chain(node) == ["col"]
        and node.args
    ):
        return ""
    arg = node.args[0]
    if isinstance(arg, ast.JoinedStr) and arg.values:
        arg = arg.values[0]
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    return ""


def test_one_candidate_pair_core():
    """The near-dup family builds its candidate pairs on one core per
    shape (``operators/dedup.py``): the 64-bit Hamming popcount is
    spelled only in ``dedup.hamming``, a first-match band predicate (an
    ordered test of side ``a``'s band index) only in
    ``dedup.band_join``, and a shared-key self-join counted per id pair
    (``a.x < b.x`` join, then ``groupBy(...).agg(count)``) only in
    ``dedup.shared_key_pairs``."""
    popcount, first_match, shared_key = set(), set(), set()
    band_index = re.compile(r"\ba\.(band|chunk)\s*(<|<=|\+)")
    for rel, owner, node in _nodes_with_function(_PKG):
        site = (rel, owner)
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "bit_count(" in node.value and rel != "plans/oracles.py":
                popcount.add(site)
            if band_index.search(node.value) and rel != "plans/oracles.py":
                first_match.add(site)
        if (
            isinstance(node, ast.Compare)
            and isinstance(node.ops[0], (ast.Lt, ast.LtE))
            and _side_column(node.left) in ("a.band", "a.chunk")
        ):
            first_match.add(site)
        if (
            isinstance(node, ast.Call)
            and _call_chain(node)[:3] == ["agg", "groupBy", "join"]
            and any(
                isinstance(a, ast.Call) and _call_chain(a) == ["count"]
                for a in ast.walk(node)
            )
        ):
            join = node.func.value.func.value
            if any(
                isinstance(c, ast.Compare)
                and isinstance(c.ops[0], ast.Lt)
                and _side_column(c.left).startswith("a.")
                and _side_column(c.comparators[0]).startswith("b.")
                for a in join.args
                for c in ast.walk(a)
            ):
                shared_key.add(site)
    assert popcount == {("operators/dedup.py", "hamming")}, popcount
    assert first_match == {("operators/dedup.py", "band_join")}, first_match
    assert shared_key == {("operators/dedup.py", "shared_key_pairs")}, shared_key


def _callee(node: ast.Call) -> str:
    """The called name: ``F.md5(x)`` and ``md5(x)`` are both ``md5``."""
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _is_kmv_constant(node) -> bool:
    """``(k - 1) * (1 << 48)``, the KMV estimate's numerator, either way
    round."""

    def shift48(n):
        return (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.LShift)
            and isinstance(n.right, ast.Constant)
            and n.right.value == 48
        )

    def minus_one(n):
        return (
            isinstance(n, ast.BinOp)
            and isinstance(n.op, ast.Sub)
            and isinstance(n.right, ast.Constant)
            and n.right.value == 1
        )

    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and (
            (shift48(node.left) and minus_one(node.right))
            or (minus_one(node.left) and shift48(node.right))
        )
    )


def test_one_md5_integer_hash():
    """Every md5-prefix integer is ``functions.hashing.md5_int`` and the
    sketches build on the one core beside it: a ``conv(substring(…
    md5(…)…))`` (Column call or SQL text) appears only in ``md5_int``,
    the KMV numerator ``(k - 1) * (1 << 48)`` only in ``kmv_estimate``,
    an HLL ρ from ``bin(`` only in ``hll_stage`` (the DuckDB twins
    aside), and a seeded ``f"{i}:"`` concat only in ``seeded_buckets``
    and ``dedup._with_minhash_sigs``, whose seeds feed md5 strings, not
    integers."""
    sql_md5_int = re.compile(r"conv\s*\(\s*substr(?:ing)?\s*\(\s*md5\s*\(", re.I)
    md5_ints, kmv, rho, seeded = set(), set(), set(), set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
        }
        for top in tree.body:
            owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
            site = (rel, owner)
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docstrings
                ):
                    if sql_md5_int.search(node.value):
                        md5_ints.add(site)
                    if "bin(" in node.value and rel != "plans/oracles.py":
                        rho.add(site)
                if isinstance(node, ast.Call):
                    name = _callee(node)
                    if (
                        name == "conv"
                        and node.args
                        and isinstance(node.args[0], ast.Call)
                        and _callee(node.args[0]) in ("substring", "substr")
                        and any(
                            isinstance(n, ast.Call) and _callee(n) == "md5"
                            for n in ast.walk(node.args[0])
                        )
                    ):
                        md5_ints.add(site)
                    if name == "bin":
                        rho.add(site)
                if _is_kmv_constant(node):
                    kmv.add(site)
                if (
                    isinstance(node, ast.JoinedStr)
                    and len(node.values) == 2
                    and isinstance(node.values[0], ast.FormattedValue)
                    and isinstance(node.values[1], ast.Constant)
                    and node.values[1].value == ":"
                ):
                    seeded.add(site)
    hashing = "functions/hashing.py"
    assert md5_ints == {(hashing, "md5_int")}, md5_ints
    assert kmv == {(hashing, "kmv_estimate")}, kmv
    assert rho == {(hashing, "hll_stage")}, rho
    assert (hashing, "seeded_buckets") in seeded, seeded
    assert seeded <= {
        (hashing, "seeded_buckets"),
        ("operators/dedup.py", "_with_minhash_sigs"),
    }, seeded


#: the equal-frequency family: every operator built on functions/cuts.py
_CUTS_CALLERS = {
    "operators/tpch.py": (
        "customer_spend_distribution", "customer_value_tiles",
        "segment_value_percentiles", "customer_rfm", "order_gap_percentiles",
        "revenue_pareto", "customer_migration",
    ),
    "operators/users.py": ("funnel_dropoff_time",),
    "operators/text.py": ("length_buckets", "token_budget_caps", "sequence_pack"),
}


def test_one_cuts_core():
    """The equal-frequency family ranks on one core,
    ``functions/cuts.py``: it is the only query code that range-partitions
    a frame (the two clustered parquet writes in ``sinks.py`` lay out
    files, they compute no order statistic), it moves nothing through
    the driver (no ``collect``, ``toPandas`` or ``createDataFrame``),
    and no caller keeps a window twin behind a ``method`` parameter."""
    ranged, driver, method = set(), set(), set()
    for rel, owner, node in _nodes_with_function(_PKG):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "repartitionByRange":
                ranged.add((rel, owner))
            if rel == "functions/cuts.py" and node.func.attr in (
                "collect", "toPandas", "createDataFrame"
            ):
                driver.add((owner, node.func.attr))
        if (
            isinstance(node, ast.FunctionDef)
            and node.name in _CUTS_CALLERS.get(rel, ())
            and any(a.arg == "method" for a in node.args.args + node.args.kwonlyargs)
        ):
            method.add((rel, node.name))
    assert ranged == {
        ("functions/cuts.py", "value_cuts"),
        ("sinks.py", "write_sorted_parquet"),
        ("sinks.py", "write_zordered_parquet"),
    }, ranged
    assert not driver, driver
    assert not method, method
    defined = {
        (rel, n.name)
        for rel, _, n in _nodes_with_function(_PKG)
        if isinstance(n, ast.FunctionDef)
    }
    assert all((rel, f) in defined for rel, fs in _CUTS_CALLERS.items() for f in fs)
