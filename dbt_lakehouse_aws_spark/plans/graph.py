"""Model-DAG runner (SURVEY §3.1's dbt-equivalent, Spark-first).

The reference's transformation plane is a dbt project: 40 SQL models
linked by ``ref()`` into a DAG, each materialized as a table
(reference ``dbt_project.yml:38-51``). Here a model is a named
Python function ``(deps...) -> DataFrame`` whose parameter names ARE
its ``ref()`` declarations — the graph resolves them by name,
topo-sorts, and executes.

Lineage policy, the same on every run: each non-source model with
more than one consumer (``fan_out > 1``) is cut with
``localCheckpoint(eager=False)``; every other model stays a lazy
DataFrame that Catalyst fuses into its consumer's plan, and sources
come back exactly as they were bound. The cut keeps downstream
logical plans flat, so analysis time does not grow with DAG depth.
One warm oc build of the 20-model SGP DAG (load, DAG, mart writes;
4 vCPU) took 9.9 s with the cut, against 33.6 s fully lazy, 33.1 s
with ``persist()`` per shared node (lineage kept) and 15.6 s writing
every model to parquet, all with identical marts. Those timings
were taken under AQE, where building a cut's RDD runs every upstream
query stage at once (20 Spark jobs a build). The SGP build now runs
in the bounded session (``session.bounded_session``): there a cut
runs no job of its own, and its blocks are filled by the first mart
write that reads them.

Caveat: localCheckpoint blocks live only in executor storage and
cannot be recomputed. The marts are readable only while the
executors that hold the shared models' blocks stay alive, which a
single-JVM ``local[N]`` session guarantees; where executors can be
lost mid-build, shared models need a reliable ``checkpoint()``
directory instead.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame


class ModelGraph:
    """Named DataFrame-producing models with ``ref()``-style deps."""

    def __init__(self) -> None:
        self._models: dict[str, Callable[..., DataFrame]] = {}
        self._deps: dict[str, tuple[str, ...]] = {}

    def model(self, fn: Callable[..., DataFrame] | None = None, *, name: str | None = None):
        """Register a model; its parameter names are its dependencies."""

        def deco(f: Callable[..., DataFrame]):
            model_name = name or f.__name__
            params = tuple(inspect.signature(f).parameters)
            self._models[model_name] = f
            self._deps[model_name] = params
            return f

        return deco(fn) if fn is not None else deco

    def add_source(self, name: str, df: DataFrame) -> None:
        """Bind a raw input (a dbt ``source()``) as a zero-dep node."""
        self._models[name] = lambda _df=df: _df
        self._deps[name] = ()

    def topo_order(self) -> list[str]:
        ts = TopologicalSorter(
            {name: set(deps) for name, deps in self._deps.items()}
        )
        return list(ts.static_order())

    def fan_out(self) -> dict[str, int]:
        counts = {name: 0 for name in self._models}
        for deps in self._deps.values():
            for d in deps:
                counts[d] += 1
        return counts

    def run(
        self,
        *,
        only: set[str] | None = None,
        checks: dict[str, dict] | None = None,
    ) -> dict[str, DataFrame]:
        """Execute the DAG; returns every model's DataFrame by name.

        ``checks`` maps model name → a dbt-style check spec
        (:func:`~dbt_lakehouse_aws_spark.plans.checks.run_checks`);
        each spec runs right after its model materializes, with every
        upstream model available as a relationships parent, and a
        failing check raises :class:`~dbt_lakehouse_aws_spark.plans.
        checks.CheckFailure` BEFORE any downstream model consumes the
        bad data — dbt-build semantics."""
        missing = {
            d for deps in self._deps.values() for d in deps if d not in self._models
        }
        if missing:
            raise KeyError(f"unresolved refs: {sorted(missing)}")
        needed: set[str] | None = None
        if only is not None:
            # transitive closure of dependencies: run exactly the
            # requested models and their ancestors (dbt --select
            # semantics), skipping every other subtree entirely
            needed = set()
            frontier = set(only)
            while frontier:
                node = frontier.pop()
                if node in needed:
                    continue
                needed.add(node)
                frontier.update(self._deps.get(node, ()))
        fan = self.fan_out()
        out: dict[str, DataFrame] = {}
        for name in self.topo_order():
            if needed is not None and name not in needed:
                continue
            df = self._models[name](*[out[d] for d in self._deps[name]])
            if fan[name] > 1 and self._deps[name]:
                df = df.localCheckpoint(eager=False)
            if checks and name in checks:
                from dbt_lakehouse_aws_spark.plans.checks import CheckFailure, run_checks

                report = run_checks(df, checks[name], model=name, parents=out).collect()
                bad = [r for r in report if not r["passed"]]
                if bad:
                    raise CheckFailure(
                        f"model {name!r} failed checks: "
                        + "; ".join(
                            f"{r['check']}({r['column']})={r['failed_rows']}" for r in bad
                        )
                    )
            out[name] = df
        return out


def manifest(
    graph: "ModelGraph",
    *,
    frames: dict[str, DataFrame] | None = None,
    checks: dict[str, dict] | None = None,
) -> dict:
    """dbt-docs-style manifest of a model graph (the documentation
    half of the reference's "Add tests and documentation" roadmap
    item, README.md:46): every node with its kind (source/model),
    dependencies, dependents, and — when ``frames`` from a
    :meth:`ModelGraph.run` are supplied — the resolved column schema,
    plus any declared check spec. Plain JSON-serializable dict:
    feed it to docs tooling, diff it in CI to catch accidental
    schema/dependency drift, or write it next to the warehouse.
    """
    fan = graph.fan_out()
    nodes = {}
    dependents: dict[str, list[str]] = {n: [] for n in graph._models}
    for name, deps in graph._deps.items():
        for d in deps:
            dependents[d].append(name)
    for name in graph.topo_order():
        node = {
            "kind": "source" if not graph._deps[name] else "model",
            "depends_on": sorted(graph._deps[name]),
            "dependents": sorted(dependents[name]),
            "fan_out": fan[name],
        }
        fn = graph._models[name]
        doc = inspect.getdoc(fn)
        if doc and node["kind"] == "model":
            node["description"] = doc.splitlines()[0]
        if frames and name in frames:
            node["columns"] = [
                {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
                for f in frames[name].schema.fields
            ]
        if checks and name in checks:
            node["checks"] = checks[name]
        nodes[name] = node
    return {"nodes": nodes, "order": graph.topo_order()}


def write_manifest(path: str, graph: "ModelGraph", **kwargs) -> str:
    """Serialize :func:`manifest` as JSON; returns the path."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(manifest(graph, **kwargs), fh, indent=1, sort_keys=True)
    return path
