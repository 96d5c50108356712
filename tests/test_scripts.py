"""The out-of-suite entry points (scripts/*.py, bench.py,
bench_scaling.py and the worker program bench_scaling runs) stay
runnable: each compiles, and every name it imports from this repo
still exists. Plus the shared benchmark layer setup,
demo.bench_layers: lazy, m x lineitem rows a side, ids unique per
lineitem key; and the bracketed-runs policy of
window_probe.bracketed_runs on a stubbed probe and clock."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import types
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"
SF = "/root/testdata/sf0.001"


def _sources():
    import bench_scaling

    for p in [*sorted(SCRIPTS.glob("*.py")), REPO / "bench.py",
              REPO / "bench_scaling.py"]:
        yield pytest.param(p.read_text(), str(p), id=p.name)
    yield pytest.param(bench_scaling.WORKER, "<WORKER>", id="bench_scaling.WORKER")


def _local(module: str) -> bool:
    top = module.split(".")[0]
    return any((d / top).is_dir() or (d / f"{top}.py").is_file()
               for d in (REPO, SCRIPTS))


@pytest.mark.parametrize("src,name", list(_sources()))
def test_entry_point_compiles_and_its_repo_imports_resolve(
    src, name, monkeypatch
):
    tree = ast.parse(src, name)
    compile(tree, name, "exec")
    monkeypatch.syspath_prepend(str(SCRIPTS))
    modules = {}  # local name -> imported repo module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and _local(node.module or ""):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(mod, alias.name):  # a submodule, or gone
                    importlib.import_module(f"{node.module}.{alias.name}")
                value = getattr(mod, alias.name)
                if isinstance(value, types.ModuleType):
                    modules[alias.asname or alias.name] = value
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if _local(alias.name):
                    assert importlib.util.find_spec(alias.name), (
                        f"{name}: module {alias.name} is gone"
                    )
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in modules):
            assert hasattr(modules[node.value.id], node.attr), (
                f"{name}: {node.value.id}.{node.attr} is gone"
            )


@pytest.mark.parametrize("mult", [1, 3])
def test_bench_layers(spark, mult):
    """Building the layers runs no job; each layer has mult rows per
    lineitem row, with ids unique per lineitem key (the test data
    repeats some (l_orderkey, l_linenumber) pairs, so ids are counted
    against distinct keys); at mult=1 the ids carry the keys."""
    from pyspark.sql import functions as F

    from overmatch_spark import demo

    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
    before = set(jobs())
    a, b = demo.bench_layers(spark, SF, 2, mult=mult)
    assert set(jobs()) == before

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k")
    )
    n, n_keys = li.agg(F.count("*"), F.countDistinct("k")).first()
    for layer, id_col in ((a, "osm_id"), (b, "id")):
        counts = layer.agg(F.count("*"), F.countDistinct(id_col)).first()
        assert tuple(counts) == (mult * n, mult * n_keys)

    if mult == 1:
        got = a.select(F.split("osm_id", "/").getItem(1).cast("long").alias("k"))
        assert sorted(got.collect()) == sorted(li.collect())


class _Clock:
    """Stands in for the `time` module: sleep() advances time()."""

    def __init__(self):
        self.t = 0.0

    def time(self):
        return self.t

    def sleep(self, s):
        self.t += s


@pytest.fixture
def window(monkeypatch):
    """window_probe with a fake clock and scripted ALU probes: returns
    (module, clock, set_probes); each run() call takes 10 s."""
    monkeypatch.syspath_prepend(str(SCRIPTS))
    import window_probe

    clock = _Clock()
    monkeypatch.setattr(window_probe, "time", clock)

    def set_probes(*values):
        it = iter(values)
        monkeypatch.setattr(window_probe, "alu_med", lambda: next(it))

    return window_probe, clock, set_probes


def _run(clock):
    return lambda: clock.sleep(10)


def test_bracketed_runs_exit_after_clean_run_once_min_runs_ran(window):
    wp, clock, set_probes = window
    clean, dirty = wp.CLEAN_MOPS + 5, wp.CLEAN_MOPS - 5
    # run 1 is clean but min_runs=2 holds; run 2 is clean: stop at 2 of 4
    set_probes(clean, clean, clean)
    runs, brackets, wait_s = wp.bracketed_runs(_run(clock), max_runs=4,
                                               min_runs=2)
    assert runs == [10.0, 10.0]
    assert brackets == [[clean, clean], [clean, clean]]
    assert wait_s == 0.0
    # a run is clean only when both its probes are: runs 1 and 2 are
    # not, run 3 is and ends the loop
    set_probes(clean, dirty, clean, clean)
    runs, brackets, _ = wp.bracketed_runs(_run(clock), max_runs=4)
    assert brackets == [[clean, dirty], [dirty, clean], [clean, clean]]
    assert len(runs) == 3


def test_bracketed_runs_cap_the_wait_across_runs(window):
    wp, clock, set_probes = window
    clean, dirty = wp.CLEAN_MOPS + 5, wp.CLEAN_MOPS - 5
    # a wait ends on the first clean poll, which becomes the pre probe
    set_probes(dirty, dirty, clean, clean)
    runs, brackets, wait_s = wp.bracketed_runs(_run(clock), max_runs=3,
                                               wait_cap_s=100)
    assert (runs, brackets, wait_s) == ([10.0], [[clean, clean]], 4.0)
    # the first run waits 3 polls of 2 s (the cap is checked before
    # each poll); the cap is then spent, so runs 2 and 3 wait nothing
    clock.t = 0.0
    set_probes(*[dirty] * 20)
    runs, brackets, wait_s = wp.bracketed_runs(_run(clock), max_runs=3,
                                               wait_cap_s=5)
    assert len(runs) == 3 and wait_s == 6.0
    assert clock.t == 6.0 + 3 * 10


def test_bracketed_runs_budget_stop(window):
    wp, clock, set_probes = window
    dirty = wp.CLEAN_MOPS - 5
    set_probes(*[dirty] * 20)
    # the budget runs out 5 s in, during the first wait: that wait
    # ends, no later run waits, and the loop ends once min_runs ran
    runs, _, wait_s = wp.bracketed_runs(
        _run(clock), max_runs=5, min_runs=2, wait_cap_s=100,
        stop=lambda: clock.t > 5,
    )
    assert runs == [10.0, 10.0]
    assert wait_s == 6.0
    assert clock.t == 26.0
