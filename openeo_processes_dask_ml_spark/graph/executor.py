"""openEO process-graph execution: JSON DAG -> one Catalyst plan.

The reference parses the graph with openeo-pg-parser-networkx and calls
each node's Python implementation in topological order, building a dask
graph (reference: minibackend/execute_graph.py:6-17). Here each node
builds DataFrame transformations instead, so the *entire* process graph
becomes a single Catalyst logical plan — predicate pushdown, column
pruning, and join planning run across node boundaries, the optimizer
the reference never had (SURVEY §4.1).

Node format: {process_id, arguments, result?}; arguments reference
other nodes via {"from_node": id} and enclosing-scope parameters via
{"from_parameter": name}. Sub-graphs ({"process_graph": {...}}) are
compiled to Python callables over Spark Columns — reducers/masks become
Column expressions, not interpreted per-row code.
"""

from __future__ import annotations

from typing import Any

from openeo_processes_dask_ml_spark.graph.registry import ProcessRegistry, default_registry


def _result_node(graph: dict) -> str:
    results = [k for k, v in graph.items() if v.get("result")]
    if len(results) != 1:
        raise ValueError(f"process graph must have exactly one result node, got {results}")
    return results[0]


class GraphExecutor:
    def __init__(self, registry: ProcessRegistry, context: dict[str, Any]):
        self.registry = registry
        self.context = context  # spark, sf_dir, ...

    def execute(self, graph: dict, parameters: dict[str, Any] | None = None) -> Any:
        cache: dict[str, Any] = {}
        return self._eval_node(graph, _result_node(graph), parameters or {}, cache)

    _IN_PROGRESS = object()  # cycle sentinel

    def _eval_node(
        self, graph: dict, node_id: str, params: dict, cache: dict
    ) -> Any:
        if node_id in cache:
            if cache[node_id] is self._IN_PROGRESS:
                raise ValueError(
                    f"process graph cycle detected at node {node_id!r}"
                )
            return cache[node_id]
        if node_id not in graph:
            raise KeyError(
                f"from_node references unknown node {node_id!r}; "
                f"graph nodes: {sorted(graph)}"
            )
        cache[node_id] = self._IN_PROGRESS
        node = graph[node_id]
        process_id = node["process_id"]
        impl = self.registry.get(process_id)
        args = {
            k: self._resolve(graph, v, params, cache)
            for k, v in node.get("arguments", {}).items()
        }
        out = impl(args, self.context)
        cache[node_id] = out
        return out

    def _resolve(self, graph: dict, value: Any, params: dict, cache: dict) -> Any:
        if isinstance(value, dict):
            if "from_node" in value:
                return self._eval_node(graph, value["from_node"], params, cache)
            if "from_parameter" in value:
                name = value["from_parameter"]
                if name not in params:
                    raise KeyError(f"unbound parameter {name!r}")
                return params[name]
            if "process_graph" in value:
                sub = value["process_graph"]

                def callback(**bound):
                    inner = GraphExecutor(self.registry, self.context)
                    return inner.execute(sub, parameters=bound)

                # let cube processes inspect the sub-graph (e.g.
                # reduce_dimension switches to the positional/array
                # reducer mode when array_element is used)
                callback.process_graph = sub
                return callback
            return {k: self._resolve(graph, v, params, cache) for k, v in value.items()}
        if isinstance(value, list):
            return [self._resolve(graph, v, params, cache) for v in value]
        return value


def execute_graph(
    graph: dict,
    spark,
    sf_dir: str,
    registry: ProcessRegistry | None = None,
    **context,
) -> Any:
    """Execute a process-graph dict; returns whatever the result node
    produces (usually a CubeFrame or DataFrame)."""
    reg = registry or default_registry()
    ex = GraphExecutor(reg, {"spark": spark, "sf_dir": sf_dir, **context})
    return ex.execute(graph)


def execute_graph_file(
    path: str,
    spark,
    sf_dir: str,
    registry: ProcessRegistry | None = None,
    **context,
) -> Any:
    """Execute a process graph stored as JSON (reference parity:
    minibackend/execute_graph.py:execute_graph_file). Accepts both the
    bare node dict and the openEO job wrapper {"process_graph": {...}}."""
    import json

    with open(path) as f:
        graph = json.load(f)
    if isinstance(graph.get("process_graph"), dict):
        graph = graph["process_graph"]
    return execute_graph(graph, spark, sf_dir, registry, **context)
