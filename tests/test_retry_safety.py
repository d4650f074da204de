"""Retry-safety lint: no nondeterministic expression may feed an exchange.

Spark re-executes map tasks on retry/speculation; a nondeterministic
expression (rand, uuid, monotonically_increasing_id, spark_partition_id)
that is re-evaluated on the retried attempt can route rows to different
shuffle partitions than the attempt some reducers already fetched —
silently duplicating or dropping rows. VERDICT r8 #1 hit exactly this
(`skew_salted_join`'s F.rand salt). This module makes the invariant a
gate:

  1. an AST lint over the whole package — every call to a
     nondeterministic pyspark function must be on the allowlist of
     known-pinned sites (eager localCheckpoint barrier upstream of any
     exchange, like the Delta identity writer);
  2. a plan sweep — no registry query's OPTIMIZED plan may contain a
     nondeterministic expression at all (checkpoint-pinned uses don't
     appear: the barrier severs lineage into a LogicalRDD).
"""

import ast
import os
import re

import pytest

from datarepo_spark.queries.registry import REGISTRY

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "datarepo_spark")

NONDET_FUNCS = {
    "rand",
    "randn",
    "uuid",
    "monotonically_increasing_id",
    "spark_partition_id",
    "shuffle",  # pyspark.sql.functions.shuffle (array) is nondeterministic
}

# (relative path, function name) pairs allowed to call a nondeterministic
# function. Each entry must pin the result BEFORE any exchange consumes
# it — an eager localCheckpoint (delta_writer.py:487 pattern). The
# two-pass primitive (functions/twopass.py) needs no entry since r13:
# its range tags are literal-boundary expressions, not
# spark_partition_id().
ALLOWLIST = {
    ("tables/delta_writer.py", "_assign_identity"),
}

# Markers as they print in optimized-plan strings. Negative lookbehind
# keeps `rand(` from matching column refs like p_brand — plan column refs
# never carry a '(' anyway, but function names can suffix other names.
PLAN_NONDET = re.compile(
    r"(?<![\w.])rand\(|(?<![\w.])randn\(|(?<![\w.])uuid\(\)"
    r"|monotonically_increasing_id|SPARK_PARTITION_ID|(?<![\w.])shuffle\("
)


def _nondet_calls(path):
    """Yield (funcname, enclosing def, lineno) for every call to a
    nondeterministic pyspark function in the file."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    # map line -> innermost enclosing function name
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            spans.append((node.lineno, node.end_lineno, node.name))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = None
        if isinstance(fn, ast.Attribute):
            name = fn.attr
        elif isinstance(fn, ast.Name):
            name = fn.id
        if name in NONDET_FUNCS:
            # skip random.shuffle / np.random.* driver-side helpers: only
            # flag pyspark column-expression factories (F.<name> or bare
            # import); random-module calls are driver-local, not shuffled.
            if isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name):
                if fn.value.id in ("random", "np", "numpy"):
                    continue
            enclosing = "<module>"
            for lo, hi, fname in spans:
                if lo <= node.lineno <= (hi or lo):
                    enclosing = fname
            yield name, enclosing, node.lineno


class TestSourceLint:
    def test_all_nondeterministic_calls_are_allowlisted(self):
        hits = []
        for root, _dirs, files in os.walk(PKG):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG)
                for name, enclosing, lineno in _nondet_calls(path):
                    if (rel, enclosing) not in ALLOWLIST:
                        hits.append(f"{rel}:{lineno} {enclosing}() calls {name}()")
        assert hits == [], (
            "Nondeterministic expression outside the pinned allowlist — "
            "either remove it, derive the value from row content "
            "(functions/skew.py pattern), or pin with an eager "
            "localCheckpoint and add the site to ALLOWLIST:\n"
            + "\n".join(hits)
        )


class TestPlanSweep:
    def test_no_registry_plan_contains_nondeterministic_expr(
        self, spark, sf_dir
    ):
        bad = {}
        # snapshot: a query body may lazily import a registering module
        # (sources.py's sketch twin pulls in queries.ranked), and a
        # mid-iteration registration would otherwise RuntimeError —
        # every module is imported above, but the sweep shouldn't
        # depend on that staying true
        for name, q in list(REGISTRY.items()):
            df = q.spark_fn(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            m = PLAN_NONDET.search(plan)
            if m:
                # No exemptions: since the r13 rewrite the two-pass
                # primitive tags ranges with literal-boundary
                # expressions, so SPARK_PARTITION_ID never appears in
                # a registry plan either (the r12 ADVICE flagged the
                # old whole-plan "__pid" substring carve-out as a
                # hole a future query could slip through).
                bad[name] = m.group(0)
        assert bad == {}, (
            "Registry queries whose optimized plan still carries a "
            f"nondeterministic expression (retry hazard): {bad}"
        )
