"""Per-layer tracing, from outside the program.

* Prefix spans: cumulative prefixes of ``Pipeline.build``'s chain, built
  from the same public calls in the same order and timed with the ``noop``
  sink.  A layer's self time is the difference between consecutive prefix
  medians; ``lineage`` is the full ``Pipeline.run`` minus the last prefix.
* Operator metrics: Spark's own SQL metrics for every SQL execution an op
  started, read from the status store (works with the UI disabled) and
  mapped to layers by plan node.
* Jobs, stages and tasks per op, from the op's job group.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ot_spark import filters, parse, semi
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.pipeline import PipelineConfig

# (step name, layer) in Pipeline.build's order
STEPS = [
    ("scan", "scan"),
    ("filter_referenced", "semi"),
    ("remove_metadata", "filters"),
    ("with_coordinates", "parse"),
    ("with_no_elevation_flag", "semi"),
    ("spatial_enrich", "enrich_fused"),
    ("remove_tags", "filters"),
]
LAYERS = ["scan", "semi", "parse", "filters", "enrich_fused", "lineage"]


def prefix(spark: SparkSession, cfg: PipelineConfig, upto: int) -> DataFrame:
    """The chain ``Pipeline.build`` runs, cut after step ``upto``.  Without
    a links table the steps are what ``Pipeline.build`` does then: no
    semi-join (the prefix times the same plan again) and a constant
    ``no_elevation`` column."""
    links = spark.read.parquet(cfg.links_path) if cfg.links_path else None
    df = spark.read.parquet(cfg.pages_path)
    for name, _layer in STEPS[1:upto + 1]:
        if name == "filter_referenced" and links is not None:
            df = semi.filter_referenced(df, links)
        elif name == "remove_metadata":
            df = filters.remove_metadata(df)
        elif name == "with_coordinates":
            df = parse.with_coordinates(df)
        elif name == "with_no_elevation_flag":
            df = (
                semi.with_no_elevation_flag(df, links) if links is not None
                else df.withColumn("no_elevation", F.lit(False))
            )
        elif name == "spatial_enrich":
            df = spatial_enrich(
                df, cfg.admin_index, cfg.raster_index, skip_col="no_elevation"
            )
        elif name == "remove_tags":
            df = filters.remove_tags(df)
    return df


class OpTrace:
    """Job group + SQL executions + GC time of one op.

    Use as a context manager around the op; afterwards ``jobs``, ``stages``,
    ``tasks``, ``gc_s`` and ``nodes`` (one dict per SQL plan node) hold what
    Spark recorded for it."""

    _n = 0

    def __init__(self, spark: SparkSession, label: str):
        OpTrace._n += 1
        self.spark = spark
        self.group = f"perfbench-{OpTrace._n}-{label}"
        self._store = spark._jsparkSession.sharedState().statusStore()

    def __enter__(self) -> "OpTrace":
        sc = self.spark.sparkContext
        self._first_exec = self._store.executionsCount()
        self._gc0 = _gc_ms(sc)
        sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.gc_s = (_gc_ms(sc) - self._gc0) / 1000.0
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self.group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        self.jobs = len(job_ids)
        self.stages = 0
        self.tasks = 0
        for s in stage_ids:
            info = tracker.getStageInfo(s)
            # skipped stages (shuffle output reused) never ran a task
            if info is not None and info.numCompletedTasks:
                self.stages += 1
                self.tasks += info.numCompletedTasks
        self.nodes = self._sql_nodes()

    def _sql_nodes(self) -> list[dict]:
        store = self._store
        execs = store.executionsList(self._first_exec, 1 << 20)
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = graph.allNodes()
            children: dict[int, list[int]] = {}
            edges = graph.edges()
            for k in range(edges.size()):
                ed = edges.apply(k)
                # edges point from child to parent
                children.setdefault(ed.toId(), []).append(ed.fromId())
            for k in range(nodes.size()):
                nd = nodes.apply(k)
                metrics = {}
                ms = nd.metrics()
                for m in range(ms.size()):
                    sm = ms.apply(m)
                    v = values.get(sm.accumulatorId())
                    if v.isDefined():
                        metrics[sm.name()] = _parse_metric(v.get())
                out.append({
                    "exec": int(eid), "id": int(nd.id()), "name": nd.name(),
                    "desc": nd.desc(), "metrics": metrics,
                    "children": children.get(nd.id(), []),
                })
        return out


def _gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*(-?[\d,.]+)\s*([A-Za-z]+)?")


def _parse_metric(text: str) -> float:
    """Spark's formatted metric value (``"1,234"``, ``"12.3 MiB"``,
    ``"total (min, med, max (...))\\n1.2 s (...)"``) in base units
    (count, bytes or seconds).  Only the total is kept."""
    line = text.split("\n")[-1]
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1)


def _subtree(nodes_by_id: dict, root: int) -> list[dict]:
    out, todo = [], [root]
    while todo:
        n = nodes_by_id.get(todo.pop())
        if n is not None:
            out.append(n)
            todo.extend(n["children"])
    return out


# layer metric -> unit; every value is a sum over the op's plan nodes
COUNTS = {
    "scan.bytes_read": "bytes",
    "semi.shuffle_bytes": "bytes",
    "enrich_fused.python_rows": "rows",
    "enrich_fused.python_bytes": "bytes",
    "enrich_fused.python_init_s": "s",
    "lineage.files_written": "count",
    "lineage.bytes_written": "bytes",
    "lineage.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def layer_counts(nodes: list[dict]) -> dict:
    """Operator metrics of one full ``Pipeline.run`` mapped to layers.

    In the execution that runs the Python UDF (the pipeline's write): the
    FileScan of the pages (the input without a ``refs`` column) -> scan;
    ArrowEvalPython -> enrich_fused; the exchange above the UDF (the
    cell_bucket repartition) and the partitioned write -> lineage; every
    exchange below the UDF -> semi, since the semi joins are the only
    shuffles there.  Every other execution of the op (read-back, lineage
    append, metadata) -> lineage."""
    c = dict.fromkeys(COUNTS, 0.0)
    by_exec: dict[int, dict[int, dict]] = {}
    for n in nodes:
        by_exec.setdefault(n["exec"], {})[n["id"]] = n
    for ex in by_exec.values():
        main = any(n["name"] == "ArrowEvalPython" for n in ex.values())
        for n in ex.values():
            m, name = n["metrics"], n["name"]
            c["spark.spill_bytes"] += m.get("spill size", 0.0)
            if "InsertIntoHadoopFsRelationCommand" in name:
                c["lineage.files_written"] += m.get("number of written files", 0.0)
                c["lineage.bytes_written"] += m.get("written output", 0.0)
            elif not main:
                if name == "Exchange":
                    c["lineage.shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
            elif name.startswith("Scan parquet") and not _is_links_scan(n):
                c["scan.bytes_read"] += m.get("size of files read", 0.0)
            elif name == "ArrowEvalPython":
                c["enrich_fused.python_rows"] += m.get("number of output rows", 0.0)
                c["enrich_fused.python_bytes"] += m.get(
                    "data sent to Python workers", 0.0
                ) + m.get("data returned from Python workers", 0.0)
                c["enrich_fused.python_init_s"] += m.get(
                    "time to initialize Python workers", 0.0
                )
            elif name == "Exchange":
                above_udf = any(
                    s["name"] == "ArrowEvalPython" for s in _subtree(ex, n["id"])
                )
                layer = "lineage" if above_udf else "semi"
                c[f"{layer}.shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
    return c


def _is_links_scan(node: dict) -> bool:
    return "refs#" in node["desc"].split("]")[0]
