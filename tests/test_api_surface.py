"""Session confs, the catalog contract and the public option surface —
thin API checks over the tested internals."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

# streaming deployment settings: the job launcher that runs the stream
# sets them, no code in this repository does
DEPLOYMENT_OPTIONS = {("read_webpages_stream", "max_files_per_trigger"),
                      ("run_stream_to_audit", "available_now")}


def _public_options(tree):
    """(function, parameter, positional index or None) for every
    defaulted parameter of a public function or method in ``tree``,
    nested defs included; ``self``/``cls`` are not counted as a
    position."""
    out = []

    def walk(node, private, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                priv = private or ch.name.startswith("_")
                a = ch.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in ch.decorator_list)
                if in_class and not static:
                    pos = pos[1:]
                if not priv:
                    first = len(pos) - len(a.defaults)
                    out.extend((ch.name, p, first + i) for i, p
                               in enumerate(pos[first:]))
                    out.extend((ch.name, k.arg, None) for k, d
                               in zip(a.kwonlyargs, a.kw_defaults)
                               if d is not None)
                walk(ch, priv, False)
            elif isinstance(ch, ast.ClassDef):
                walk(ch, private or ch.name.startswith("_"), True)
            else:
                walk(ch, private, in_class)

    walk(tree, False, False)
    return out


def _call_sites(trees):
    """What the calls in ``trees`` pass, by callee name: the most
    positional arguments, the keywords, and the keywords of calls whose
    callee has no name (``getattr(...)(max_queries=10)``). A ``*args``
    covers every position; ``**NAME`` of a module-level dict literal
    passes its keys, any other ``**`` mapping every parameter."""
    dicts = {}
    for tree in trees:
        for node in tree.body:
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                    and isinstance(node.value, ast.Dict)
                    and all(isinstance(k, ast.Constant) for k in node.value.keys)):
                dicts[node.targets[0].id] = {k.value for k in node.value.keys}
    npos, kws, anonymous = {}, {}, set()
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            passed = set()
            for k in call.keywords:
                if k.arg is not None:
                    passed.add(k.arg)
                    continue
                v = k.value
                name = (v.id if isinstance(v, ast.Name) else
                        v.attr if isinstance(v, ast.Attribute) else None)
                passed |= dicts.get(name, {"**"})
            f = call.func
            name = (f.id if isinstance(f, ast.Name) else
                    f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                anonymous |= passed
                continue
            kws.setdefault(name, set()).update(passed)
            n = (float("inf") if any(isinstance(a, ast.Starred)
                                     for a in call.args) else len(call.args))
            npos[name] = max(npos.get(name, 0), n)
    return npos, kws, anonymous


def test_every_option_has_a_caller():
    """Every defaulted parameter of a public ``dq`` function is passed at
    some call site of a function of that name in the package, scripts,
    benchmark or tests. An option nothing sets can only take its
    default: make it a constant instead. Calls are matched by name, so
    this is a floor, not proof that each option is used."""
    sources = [*sorted(ROOT.glob("dq/*.py")), *sorted(ROOT.glob("scripts/*.py")),
               *sorted(ROOT.glob("perfbench/*.py")),
               *sorted(ROOT.glob("tests/*.py")),
               ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in sources}
    npos, kws, anonymous = _call_sites(trees.values())
    uncalled = [
        f"{path.name}:{fn}({param})"
        for path, tree in trees.items() if path.parent.name == "dq"
        for fn, param, i in _public_options(tree)
        if (fn, param) not in DEPLOYMENT_OPTIONS
        and param not in anonymous
        and not kws.get(fn, set()) & {param, "**"}
        and not (i is not None and npos.get(fn, 0) > i)]
    assert not uncalled, uncalled


def test_no_unused_imports():
    """Every name an import binds in the package, scripts, tests and
    entry points is used in its file (no linter runs on this repo)."""
    sources = [*sorted(ROOT.glob("dq/*.py")), *sorted(ROOT.glob("scripts/*.py")),
               *sorted(ROOT.glob("tests/*.py")),
               ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    unused = []
    for path in sources:
        tree = ast.parse(path.read_text(), str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if (not isinstance(node, (ast.Import, ast.ImportFrom))
                    or getattr(node, "module", None) == "__future__"):
                continue
            bound = [a.asname or a.name.split(".")[0] for a in node.names]
            unused.extend(f"{path.relative_to(ROOT)}:{node.lineno} {b}"
                          for b in bound if b not in used)
    assert not unused, unused


def test_catalog_gates_run_the_product(spark, monkeypatch):
    """Each check-contract gate query runs the product function it gates,
    looked up on its module: replacing the function makes the query fail,
    so its oracle checks the product, not a copy."""
    from dq import compare, rules, scoring, thresholds
    from dq.queries import QUERIES

    class Stubbed(Exception):
        pass

    def stub(*_args, **_kwargs):
        raise Stubbed

    gates = {"rowcount_trend": (thresholds, "compute_thresholds"),
             "env_compare": (compare, "compare_row_counts"),
             "summary_banding": (scoring, "table_summary"),
             "dimension_scores": (scoring, "dimension_scores"),
             "null_empty_profile": (rules, "collect_table_metrics")}
    for query, (module, name) in gates.items():
        with monkeypatch.context() as m:
            m.setattr(module, name, stub)
            with pytest.raises(Stubbed):
                QUERIES[query](spark, SF).collect()


def test_catalog_session_restores_confs(spark):
    """Embedding a catalog query in an ANSI-on session: catalog_session
    restores both pinned confs on exit, and ANSI semantics are really
    back (a bad cast throws again)."""
    from dq.queries import QUERIES
    from dq.session import catalog_session

    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with catalog_session(spark):
            df = QUERIES["daily_row_counts"](spark, SF)
            assert df.count() > 0
            # inside: the catalog pinned its semantics
            assert spark.conf.get("spark.sql.ansi.enabled") == "false"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") \
            == "America/New_York"
        try:
            spark.sql("SELECT CAST('not a number' AS INT)").collect()
            raised = False
        except Exception:
            raised = True
        assert raised, "ANSI cast semantics not actually restored"
    finally:
        # shared test session: put the suite's defaults back
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_driver_heap_fits_the_machine(spark):
    """The default driver heap is half the physical RAM (DQ_DRIVER_MEM
    overrides it), and the test session's JVM really launched with it."""
    import os

    from dq.session import default_driver_memory

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * 2**30 <= max(phys // 2, 2**30)
    want = os.environ.get("DQ_DRIVER_MEM", default_driver_memory())
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime() \
                    .maxMemory()
    assert max_heap < phys


def test_catalog_queries_and_oracles_pair_up():
    """``__spark_entry__`` pairs every catalog query with an exact
    oracle. scripts/parity.py downgrades a query without one to a
    rows-only check, so a query that loses its oracle (or an oracle
    whose query is gone) must fail here instead of passing there."""
    import __spark_entry__ as entry
    from dq.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)
    oracles = entry.oracle_sql()
    assert set(QUERIES) - set(oracles) == {"quality_filter_pipeline"}
    assert set(oracles) - set(ORACLES) == {"embedding_ivf_topk"}
    assert set(oracles) <= set(QUERIES)
