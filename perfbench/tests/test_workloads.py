from __future__ import annotations

from perfbench import workloads

def test_panel_has_one_registered_query_per_engine_module():
    from insight_patents_spark import registry

    specs = registry.load_all()
    module = {n: workloads.module_of(s.fn) for n, s in specs.items()}
    assert set(workloads.PANEL) <= set(specs)
    panel_modules = sorted(module[n] for n in workloads.PANEL)
    assert panel_modules == sorted(set(module.values()) - {"pipeline", "pyds"})


def test_module_of_maps_streaming_and_operators():
    def f():
        pass

    f.__module__ = "insight_patents_spark.streaming.queries"
    assert workloads.module_of(f) == "streaming"
    f.__module__ = "insight_patents_spark.operators.graph"
    assert workloads.module_of(f) == "graph"
